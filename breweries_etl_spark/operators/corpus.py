"""End-to-end training-data corpus preparation: the composite pipeline a
large-scale LLM data team runs nightly — language routing, quality
floors, exact dedup, and a reproducible train/test split — expressed as
ONE single-scan Spark plan.

Scale design:
- Every text-derived signal (language, quality, token count, content
  key, split bucket) is computed in the SAME projection over the scan —
  five operator "passes" cost one parquet read and zero joins.
- The dedup is a min-id window over content_key rather than a
  groupBy + join-back: the join-back formulation plans a SECOND corpus
  scan (and recomputes every regex signal); the window shuffles only the
  already-projected narrow signal columns — text never moves, and the
  100 TB plan reads the corpus exactly once.
- The split is content-hash keyed (operators/sampling.py), so a document
  can never migrate between train and test when the corpus grows or the
  partitioning changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import lifecycle
from ..functions.partitioning import ensure_parallelism
from .sampling import _BUCKETS, hash_bucket_expr
from .text import (
    lang_pred_expr,
    shingle_hashes_expr,
    shingles_expr,
    normalize_text_expr,
    quality_score_expr,
    token_count_expr,
)


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-test-document benchmark-contamination score: the fraction of
    the document's distinct word n-grams that occur anywhere in the
    training corpus (the standard n-gram-overlap decontamination signal,
    cf. GPT-3 appendix C / Dodge et al. C4 analysis).

    Scale shape: both sides reduce to DISTINCT 64-bit shingle hashes
    before anything joins — the train side collapses to a global shingle
    vocabulary (one hash-distinct, map-side partial), and the probe is a
    single LEFT OUTER join against that distinct vocabulary (each test
    shingle matches at most once, so no hot-shingle blowup and no text
    ever shuffles) feeding ONE aggregation that counts total and matched
    shingles together — the test side is shingled exactly once. Counts
    on hashes equal counts on strings up to 2^-64 collisions (same
    contract as the dedup family; the DuckDB oracle shingles strings).

    The shingle expression sits DIRECTLY under the explode — no
    size()>0 filter (explode of an empty array emits nothing, same
    semantics), so the interpreted shingle transform is evaluated once
    per row with no cache barrier needed.
    """
    test_sh = ensure_parallelism(test.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(shingle_hashes_expr(F.col(text_col), n)).alias("s"),
    )
    train_vocab = (
        ensure_parallelism(train.select(id_col, text_col))
        .select(F.explode(shingle_hashes_expr(F.col(text_col), n)).alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        test_sh.join(train_vocab, "s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_overlap"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias(
                "contamination"
            ),
        )
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    n_shards: int = 16,
) -> DataFrame:
    """Greedy in-order sequence packing: assign each document to a
    token-budget bin (first-fit in ``id`` order) so downstream
    pretraining batches waste minimal padding — the standard packing
    step between corpus prep and tokenized-batch writing.

    Packing is inherently sequential (each bin decision depends on the
    running total), so it cannot be a window expression; instead the
    corpus is sharded by content hash and each shard packs independently
    in one Arrow batch (``applyInPandas`` — a few thousand int rows per
    shard, vectorized pandas inside). Shard count scales with the
    cluster; determinism comes from the (shard, doc_id) total order, so
    the assignment is a pure function of the corpus — which lets a
    recursive-CTE oracle replay it row by row.

    Bin rule: a doc starts a new bin iff the running total plus its
    tokens would exceed ``budget`` (an oversized doc gets a bin alone).
    """
    import pandas as pd

    tokens = F.size(F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z0-9_]+"), 0))
    base = df.select(
        F.col(id_col),
        (hash_bucket_expr(F.col(id_col)) % n_shards).alias("shard"),
        tokens.cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins = []
        bin_idx, cum = 0, 0
        for i, t in enumerate(pdf["n_tokens"]):
            if i > 0 and cum + t > budget:
                bin_idx += 1
                cum = 0
            cum += t
            bins.append(bin_idx)
        pdf["bin_idx"] = bins
        return pdf

    return base.groupBy("shard").applyInPandas(
        pack, "doc_id long, shard long, n_tokens long, bin_idx long"
    )


def training_data_prep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.5,
    test_fraction: float = 0.1,
) -> DataFrame:
    """lang filter → quality floor → exact dedup (keep min id per
    normalized content) → hash split → per-split corpus accounting.

    Returns one row per split with document count, total word tokens,
    and mean quality (decimal-summed for cross-engine determinism).
    """
    text = F.col(text_col)
    base = df.select(
        F.col(id_col),
        lang_pred_expr(text).alias("lang_pred"),
        quality_score_expr(text).alias("q"),
        token_count_expr(text).cast("long").alias("n_tokens"),
        F.md5(normalize_text_expr(text)).alias("content_key"),
        hash_bucket_expr(F.col(id_col)).alias("bucket"),
    )
    filtered = base.filter(
        (F.col("lang_pred") == lang) & (F.col("q") >= min_quality)
    )
    w = Window.partitionBy("content_key").orderBy(F.asc(id_col))
    kept = (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    threshold = int(test_fraction * _BUCKETS)
    split = F.when(F.col("bucket") < threshold, "test").otherwise("train")
    return (
        kept.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum(F.col("q").cast("decimal(10,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
        .orderBy("split")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split every document into overlapping fixed-token windows — the
    context-window chunking step that turns variable-length documents
    into training sequences (stride = chunk_tokens − overlap, trailing
    partial chunk kept).

    Pure array expressions over one scan: ``sequence`` generates the
    chunk starts in-row, ``posexplode`` emits one row per chunk, and the
    chunk content travels as an md5 over the joined slice — so the
    output stays narrow no matter how wide the source documents are
    (the driver-facing form; a writer would keep the slice itself).
    Documents with no tokens produce no chunks.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(normalize_text_expr(F.col(text_col)), " ")
    with_toks = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(F.col(id_col), toks.alias("toks"))
        .filter((F.size("toks") > 0) & (F.element_at("toks", 1) != ""))
    )
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(stride))
    exploded = with_toks.select(
        F.col(id_col), F.col("toks"), F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk = F.slice(F.col("toks"), F.col("start"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def decontaminate_train(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_contamination: float = 0.2,
) -> DataFrame:
    """Actionable decontamination: per-TRAIN-document overlap against the
    TEST shingle vocabulary, with the removal flag — the step after
    ``contamination_check``'s report (GPT-3 appendix C: drop training
    documents that leak benchmark text, not the other way around).

    Same scale shape as the check, roles reversed: the test side
    collapses to one distinct shingle-hash vocabulary, train shingles
    LEFT-join it (each matches at most once — no hot-shingle blowup),
    one aggregation counts total and matched together. keep =
    contamination <= ``max_contamination``; empty/short docs have no
    shingles, zero contamination, keep = true.
    """
    train_sh = ensure_parallelism(train.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(shingle_hashes_expr(F.col(text_col), n)).alias("s"),
    )
    test_vocab = (
        ensure_parallelism(test.select(text_col))
        .select(F.explode(shingle_hashes_expr(F.col(text_col), n)).alias("s"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    joined = train_sh.join(test_vocab, "s", "left")
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_overlap"),
    )
    scored = train.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
        F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        F.round(
            F.coalesce(F.col("n_overlap"), F.lit(0))
            / F.greatest(F.coalesce(F.col("n_shingles"), F.lit(0)), F.lit(1)),
            6,
        ).alias("contamination"),
    )
    return scored.withColumn(
        "keep", F.col("contamination") <= max_contamination
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    test_fraction: float = 0.1,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Near-dup-aware train/test split: documents in the same near-dup
    cluster ALWAYS land on the same side, so a test document can never
    have a near-copy in train (the leakage plain hash splits cannot
    prevent). Pairs come from the provably-exact prefix-filtered
    Jaccard; clusters from min-label components; the split hashes the
    CLUSTER id with the same portable md5 bucketing as
    ``sampling.train_test_split`` (singleton docs hash their own id —
    identical membership to the plain split for unclustered docs).
    """
    from .dedup import prefix_filtered_jaccard_pairs
    from .graph import connected_components

    # the scope frees the pair caches once the components are checkpointed
    with lifecycle.scope():
        pairs = prefix_filtered_jaccard_pairs(
            df, text_col, id_col, threshold=threshold, n=n
        )
        cc = connected_components(pairs)
    labeled = (
        df.select(F.col(id_col))
        .join(cc.withColumnsRenamed({"doc_id": id_col}), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )
    threshold_bucket = int(test_fraction * _BUCKETS)
    bucket = hash_bucket_expr(F.col("cluster_id"))
    return labeled.withColumn(
        "split",
        F.when(bucket < threshold_bucket, F.lit("test")).otherwise(F.lit("train")),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    para_words: int = 20,
) -> DataFrame:
    """Sub-document exact dedup: split each document into fixed-width
    word windows ("paragraphs"), keep only the globally FIRST occurrence
    of each paragraph (by doc id, then position), and reconstruct the
    cleaned text — the RefinedWeb/Dolma-style exact-substring dedup pass
    that removes boilerplate repeated ACROSS documents while leaving the
    first copy intact. Returns (doc_id, n_paras, n_kept, new_text);
    n_kept = 0 with empty new_text means the document was entirely
    boilerplate.

    Scale shape: two shuffles, both narrow. (1) first-occurrence rank
    shuffles (paragraph, doc_id, pidx) keyed by paragraph content —
    balanced, since identical paragraphs are exactly what dedup removes;
    (2) reconstruction shuffles kept paragraphs back by doc id. At
    100 TB, key shuffle (1) on ``xxhash64(para)`` instead of the string
    (8 B/key, collision odds 2^-64); the string form here is the
    oracle-exact mode.
    """
    toks = F.split(normalize_text_expr(F.col(text_col)), " ")
    with_toks = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(F.col(id_col), toks.alias("toks"))
        .filter((F.size("toks") > 0) & (F.element_at("toks", 1) != ""))
    )
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(para_words))
    paras = with_toks.select(
        F.col(id_col),
        F.posexplode(starts).alias("pidx", "start"),
        F.col("toks"),
    ).select(
        F.col(id_col),
        F.col("pidx").cast("long").alias("pidx"),
        F.array_join(F.slice(F.col("toks"), F.col("start"), para_words), " ").alias(
            "para"
        ),
    )
    first = Window.partitionBy("para").orderBy(id_col, "pidx")
    # Carry a kept FLAG through the aggregate instead of filtering into
    # a separate branch: the earlier totals/rebuilt two-branch shape
    # made physical planning expand the paragraph relation twice (two
    # document scans + repartitions — r5 plan audit). One flagged
    # aggregate counts all paragraphs, counts the kept ones, and
    # reconstructs from the kept structs (collect_list drops the NULL
    # non-kept entries) — one scan, three narrow shuffles total.
    flagged = paras.withColumn("rn", F.row_number().over(first))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") == 1, F.struct("pidx", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            " ",
        ).alias("new_text"),
    )


@lifecycle.operator(release=False)
def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Pairwise content overlap between corpus sources: for every source
    pair (a < b), the number of shared distinct word n-grams and their
    Jaccard — the corpus-health matrix that reveals mirror sites,
    cross-posted content, and scraped-from-each-other feeds BEFORE
    mixing weights are chosen.

    Scale shape: ONE corpus pass collapses to per-shingle source SETS
    (bounded arrays — at most |sources| entries each); pair expansion
    is the executor-local posexplode+slice pattern bounded by
    |sources|² per shingle, and per-source totals re-derive by
    exploding the same persisted relation (the earlier shingle
    self-join referenced the distinct relation three times, and the r5
    plan audit showed four corpus scans). The persisted relation is the
    narrow (shingle, sources[]) aggregate.
    """
    sets = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(shingles_expr(F.col(text_col), n)).alias("s"),
        )
        .distinct()
        .groupBy("s")
        .agg(F.sort_array(F.collect_list("source")).alias("srcs"))
        .transform(lifecycle.persist)
    )
    sets.count()
    tot = (
        sets.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pos = sets.select(F.posexplode("srcs").alias("_p", "source_a"), "srcs")
    shared = (
        pos.select(
            "source_a",
            F.explode(
                F.slice("srcs", F.col("_p") + 2, F.size("srcs"))
            ).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = F.broadcast(tot.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")))
    tb = F.broadcast(tot.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")))
    result = (
        shared.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return result


def curriculum_buckets(
    docs: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    n_stages: int = 4,
) -> DataFrame:
    """Curriculum-learning stage assignment: rank the corpus by a
    difficulty proxy and cut it into ``n_stages`` equal-count stages
    (1 = easiest fed first), then summarize each stage — the ordering
    a staged pre-training run consumes.

    ``ntile`` over a (score, id) TOTAL order: the id tiebreak makes the
    cut deterministic on any partitioning/engine. The global sort is
    ntile's price — at corpus scale swap the exact ntile for
    percentile_disc stage BOUNDARIES broadcast back as a range filter
    (same stages up to tie handling at the cuts, no total sort); this
    exact form is the contract/oracle surface.

    Output per stage: stage, n_docs, min/max score, exact-decimal mean
    score (sum/count — both engines do the identical division).
    """
    w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    staged = docs.select(
        F.col(id_col),
        F.col(score_col).cast("long").alias("__score"),
        F.ntile(n_stages).over(w).cast("long").alias("stage"),
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("__score").alias("min_score"),
            F.max("__score").alias("max_score"),
            (
                F.sum("__score").cast("double") / F.count(F.lit(1))
            ).alias("mean_score"),
        )
    )


def curriculum_stages_scalable(
    docs: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    n_stages: int = 4,
) -> DataFrame:
    """Two-pass percentile-boundary curriculum staging — the 100 TB form
    of ``curriculum_buckets`` (whose ``ntile`` needs a TOTAL order, i.e.
    a single-partition sort of the whole corpus).

    Pass 1 computes the ``n_stages − 1`` stage boundaries as
    ``percentile_disc`` picks over the score (ONE map-side-combinable
    aggregate; the result is one row). Pass 2 broadcasts that row and
    assigns ``stage = 1 + |{b ∈ bounds : score > b}|`` scan-locally —
    no sort, no window, no single-partition exchange anywhere in the
    plan (pinned by tests/test_plan_budgets.py).

    Contract difference vs the exact twin (kept as
    ``curriculum_stages``): every doc TIED at a boundary value lands in
    the lower stage, so stage populations are equal only up to tie
    mass — the documented trade for dropping the global sort. Summary
    columns are identical (n_docs, min/max score, sum/count mean).
    """
    qs = [round(k / n_stages, 6) for k in range(1, n_stages)]
    s = docs.select(F.col(score_col).cast("long").alias("__score"))
    bounds = s.agg(
        F.expr(
            "array("
            + ", ".join(
                f"CAST(percentile_disc({q}) WITHIN GROUP (ORDER BY __score) AS LONG)"
                for q in qs
            )
            + ")"
        ).alias("__bs")
    )
    staged = s.crossJoin(F.broadcast(bounds)).select(
        "__score",
        (
            F.lit(1)
            + F.size(F.filter("__bs", lambda b: F.col("__score") > b))
        )
        .cast("long")
        .alias("stage"),
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("__score").alias("min_score"),
        F.max("__score").alias("max_score"),
        (F.sum("__score").cast("double") / F.count(F.lit(1))).alias("mean_score"),
    )


def duplicate_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Positional exact-substring duplication, the span-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): mark every k-token window whose content
    occurs ≥ 2 times ANYWHERE in the corpus (another doc or the same
    one), merge overlapping duplicated windows into maximal spans, and
    report per-document removal stats — the signal a span-removal pass
    acts on. Differs from ``filtering.ngram_dup_fraction`` (set-level:
    WHICH shingles are shared) by being positional: WHERE the duplicated
    runs sit and how many tokens deleting them removes.

    Scale shape: windows are hashed immediately (16-hex md5 prefix), so
    the two corpus-scale shuffles (window-hash count, join-back) carry
    (hash, id, start) — never window text. Span merging is a per-doc
    ``lead`` window over duplicated window starts only (ordered within
    the doc partition, no global sort): sorted starts s_1..s_m cover
    Σ min(k, s_{i+1} − s_i) + k tokens, and a window ENDS a span iff
    the next start is > s + k − 1 — both closed-form in one pass.

    Output per doc with ≥ k tokens: (id, n_tokens, n_dup_windows,
    n_spans, removed_tokens, removed_fraction).
    """
    toks = docs.select(
        F.col(id_col),
        F.split(normalize_text_expr(F.col(text_col)), " ").alias("__w"),
    ).filter((F.size("__w") >= k) & (F.element_at("__w", 1) != ""))
    windows = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__w") - k),
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice("__w", i + 1, k))), 1, 16
                ),
            )
        ).alias("start", "__h"),
    )
    # ONE corpus scan, two narrow shuffles. A hash-count WINDOW marks
    # duplicated windows in place (the agg+join-back form referenced the
    # window relation twice and Catalyst expanded both into full scans —
    # r5 plan audit; same no-self-join trick as ngram_dup_fraction).
    # Span merging then happens INSIDE the per-doc aggregate on the
    # sorted array of duplicated starts: sorted s_1..s_m covers
    # Σ min(k, s_{i+1} − s_i) + k tokens and starts a new span wherever
    # the gap is ≥ k — executor-local array math bounded by doc length.
    flagged = windows.select(
        F.col(id_col),
        "start",
        (F.count(F.lit(1)).over(Window.partitionBy("__h")) >= 2).alias("__dup"),
    )
    starts = F.array_sort(
        F.collect_list(F.when(F.col("__dup"), F.col("start")))
    )
    gaps = F.zip_with(
        F.slice(starts, 1, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        lambda a, b: b - a,
    )
    removed = F.when(F.size(starts) == 0, F.lit(0)).otherwise(
        F.aggregate(
            gaps, F.lit(0), lambda acc, g: acc + F.least(F.lit(k), g)
        )
        + k
    )
    n_spans = F.when(F.size(starts) == 0, F.lit(0)).otherwise(
        F.size(F.filter(gaps, lambda g: g >= k)) + 1
    )
    return flagged.groupBy(id_col).agg(
        (F.max("start") + k).cast("long").alias("n_tokens"),
        F.size(
            F.collect_list(F.when(F.col("__dup"), F.col("start")))
        )
        .cast("long")
        .alias("n_dup_windows"),
        n_spans.cast("long").alias("n_spans"),
        removed.cast("long").alias("removed_tokens"),
        F.round(
            removed / (F.max("start") + k).cast("double"), 6
        ).alias("removed_fraction"),
    )


def dsir_importance_weights(
    docs: DataFrame,
    target_lang: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169):
    score every raw document by how much its hashed-unigram profile
    looks like a TARGET distribution (here: the ``target_lang`` slice of
    the same corpus), for importance resampling of pre-training data.

    log w(doc) = Σ_buckets count_doc(b) · log(p_target(b) / p_raw(b)),
    with add-one smoothing over ``n_buckets`` hashed unigram buckets.

    Parity/scale discipline: the per-bucket log-ratio rounds to 6 dp
    (kills last-ulp libm differences between engines — the bigram-LM
    convention) and the per-doc sum is integer-count × 6-dp decimal:
    exact, order-independent. Bucket distributions are two tiny
    aggregates (≤ n_buckets rows) broadcast back; the corpus shuffles
    once to (doc, bucket) counts — no second scan.

    Output: (id, n_tokens, log_weight).
    """
    toks = docs.select(
        F.col(id_col),
        F.col("lang"),
        F.explode(F.split(normalize_text_expr(F.col(text_col)), " ")).alias("__t"),
    ).filter(F.col("__t") != "")
    bucketed = toks.select(
        F.col(id_col),
        F.col("lang"),
        (hash_bucket_expr(F.col("__t")) % n_buckets).alias("__b"),
    )
    # TWO corpus passes — the honest minimum without caching (the first
    # formulation referenced the token relation from raw/target/per-doc
    # branches, and the r5 plan audit showed Catalyst expanding each
    # into its own corpus scan; per-branch column pruning makes the
    # subtrees non-identical, so exchange reuse never unifies them).
    # Pass 1 builds BOTH bucket distributions in one conditional
    # aggregate, and the smoothing totals come from a single-partition
    # window over that bounded (n_buckets-row) aggregate instead of a
    # self-referencing crossJoin — one chain, one scan. Pass 2 scores
    # docs against the broadcast ratio table.
    whole = Window.partitionBy()
    bucket_stats = bucketed.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__cr"),
        F.sum(F.when(F.col("lang") == target_lang, 1).otherwise(0)).alias(
            "__ct"
        ),
    )
    ratios = bucket_stats.select(
        "__b",
        F.round(
            F.log(
                (F.col("__ct") + 1).cast("double")
                / (F.sum("__ct").over(whole) + n_buckets).cast("double")
            )
            - F.log(
                (F.col("__cr") + 1).cast("double")
                / (F.sum("__cr").over(whole) + n_buckets).cast("double")
            ),
            6,
        ).alias("__lr"),
    )
    doc_counts = bucketed.groupBy(id_col, "__b").agg(
        F.count(F.lit(1)).alias("__c")
    )
    per_doc = (
        doc_counts.join(F.broadcast(ratios), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            F.sum(
                (F.col("__c") * F.col("__lr")).cast("decimal(24,6)")
            )
            .cast("double")
            .alias("log_weight"),
        )
    )
    return per_doc.select(id_col, "n_tokens", "log_weight")


def token_budget_mix(
    df: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    max_epochs: float = 4.0,
) -> DataFrame:
    """Token-budget allocation across sources for a training run:
    sqrt-proportional shares (the standard upsample-the-tail mixing
    rule — raw-proportional lets one mega-crawl drown everything,
    uniform ignores size entirely), capped at ``max_epochs`` passes
    over any single source so small sources aren't memorized.

    One tokenize scan → one #sources-row aggregate; shares and epochs
    are a fixed double sequence off exact integer token counts (cap
    applied AFTER the share computation — the freed budget is
    reported, not redistributed, so the allocation stays a closed
    form; documented). Output per source: (source, n_tokens, share,
    alloc_tokens, epochs)."""
    from .text import TOKEN_RE

    per = (
        df.filter(
            F.col(text_col).isNotNull() & F.col(source_col).isNotNull()
        )
        .select(
            F.col(source_col).alias("source"),
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)
            ).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    tot = per.agg(
        F.sum(
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e6))
            .cast("decimal(38,0)")
        ).alias("sq_sum")
    )
    from .hypotests import dec_double_wide

    sq = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e6))
    share = sq / (dec_double_wide(F.col("sq_sum")))
    alloc = share * F.lit(float(budget_tokens))
    nt = F.col("n_tokens").cast("double")
    epochs_raw = alloc / nt
    epochs = F.least(epochs_raw, F.lit(max_epochs))
    # zero-token guard (ADVICE r7): a source whose documents contain no
    # TOKEN_RE matches would divide by nt = 0 — Spark's double division
    # yields NULL where DuckDB's IEEE division yields NaN/inf, an
    # engine-dependent path. Gate all derived columns on n_tokens > 0
    # (deterministic NULLs on both engines), like the sibling CASE
    # guards.
    ok = F.col("n_tokens") > 0
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.when(ok, F.round(share, 6)).alias("share"),
        F.when(
            ok,
            F.floor(F.least(epochs, F.lit(max_epochs)) * nt).cast("long"),
        ).alias("alloc_tokens"),
        F.when(ok, F.round(epochs, 6)).alias("epochs"),
    )


def diversity_indices(
    df: DataFrame, category_col: str = "source"
) -> DataFrame:
    """Ecology-style diversity profile of a categorical column — the
    four standard indices a corpus-mix report leads with: Shannon
    H = −Σ p ln p (nats), Simpson diversity 1 − Σp² (probability two
    random docs differ), Pielou evenness H/ln k (how far from uniform),
    and Berger-Parker dominance max p (share of the biggest category).
    ``temperature_mix_weights`` PRESCRIBES a rebalanced mix; this
    MEASURES the mix you have.

    NULL categories count as a real category (unknown provenance is a
    slice worth seeing — the distinct-sketch n_groups convention). One
    count shuffle to the ≤|categories| relation; entropy terms fold per
    the MI recipe (round-6 decimal, order-independent). Output one row:
    (n_rows, n_categories, shannon_h, simpson_d, pielou_j,
    berger_parker)."""
    counts = df.groupBy(F.col(category_col).alias("cat")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # total as a WINDOW over the bounded category relation, not a
    # second aggregate branch: counts.agg(...) + crossJoin re-expanded
    # the fact groupBy into a second full scan (the dunn per_g class;
    # caught by the r10 self-audit before any gate saw it)
    counts = counts.select(
        "cat", "c", F.sum("c").over(Window.partitionBy()).alias("n")
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    folded = counts.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.round(-p * F.log(p), 6).cast("decimal(18,6)")).alias("h"),
        F.sum(F.round(p * p, 6).cast("decimal(18,6)")).alias("p2"),
        F.max("c").alias("cmax"),
    )
    h = F.col("h").cast("double")
    n = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    return folded.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("n_categories"),
        F.when(F.col("n") > 0, F.round(h, 6)).alias("shannon_h"),
        F.when(
            F.col("n") > 0,
            F.round(F.lit(1.0) - F.col("p2").cast("double"), 6),
        ).alias("simpson_d"),
        F.when(F.col("k") > 1, F.round(h / F.log(kd), 6)).alias(
            "pielou_j"
        ),
        F.when(
            F.col("n") > 0,
            F.round(F.col("cmax").cast("double") / n, 6),
        ).alias("berger_parker"),
    )


def hill_diversity_profile(
    df: DataFrame, category_col: str = "source"
) -> DataFrame:
    """Hill-number diversity profile of a categorical column — the
    "effective number of categories" at orders q = 0, 1, 2, ∞:
    ⁰D = richness k, ¹D = exp(Shannon H), ²D = 1/Σp² (inverse
    Simpson), ^∞D = 1/max p (inverse Berger-Parker). Hill numbers put
    every diversity index on ONE interpretable unit (equivalent count
    of equally-common categories; Jost 2006), so a corpus-mix report
    can say "the source mix behaves like 3.2 equally-sized sources"
    instead of quoting H in nats. ``diversity_indices`` reports the
    raw indices; this is their common-unit profile.

    Same shape and conventions: NULL is a real category; one count
    shuffle to the ≤|categories| relation with the window-total (never
    a second fact aggregate — the dunn per_g class); H folds per the
    MI recipe (round-6 decimal). ²D and ^∞D close as EXACT integer
    ratios n²/Σc² and n/c_max — no per-term rounding at all. Output
    one row: (n_rows, hill_d0, hill_d1, hill_d2, hill_dinf)."""
    counts = df.groupBy(F.col(category_col).alias("cat")).agg(
        F.count(F.lit(1)).alias("c")
    )
    counts = counts.select(
        "cat", "c", F.sum("c").over(Window.partitionBy()).alias("n")
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    folded = counts.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.round(-p * F.log(p), 6).cast("decimal(18,6)")).alias("h"),
        F.sum(
            (F.col("c").cast("decimal(19,0)") * F.col("c")).cast(
                "decimal(38,0)"
            )
        ).alias("sc2"),
        F.max("c").alias("cmax"),
    )
    h = F.col("h").cast("double")
    n = F.col("n").cast("double")
    return folded.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("hill_d0"),
        F.when(F.col("n") > 0, F.round(F.exp(h), 6)).alias("hill_d1"),
        F.when(
            F.col("n") > 0,
            F.round(
                (n * n)
                / F.col("sc2").cast("double"),
                6,
            ),
        ).alias("hill_d2"),
        F.when(
            F.col("n") > 0,
            F.round(n / F.col("cmax").cast("double"), 6),
        ).alias("hill_dinf"),
    )
