"""The cache lifecycle (functions/lifecycle.py): one module persists,
checkpoints and frees; no registry query leaves a persisted RDD behind
once its result is released; the plan shapes the bucketed persist
relies on hold; the bench harness survives a hung child."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from breweries_etl_spark.functions import lifecycle

PKG = pathlib.Path(__file__).resolve().parent.parent / "breweries_etl_spark"
GUARDED = {"persist", "localCheckpoint", "checkpoint", "setCheckpointDir", "getPersistentRDDs"}


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_only_lifecycle_persists_checkpoints_or_releases():
    offenders = []
    for sub in ("operators", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                via_lifecycle = (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "lifecycle"
                )
                if node.func.attr in GUARDED and not via_lifecycle:
                    offenders.append(f"{path.name}:{node.lineno} .{node.func.attr}(")
    assert not offenders, offenders


def test_one_checkpoint_dir_bootstrap():
    hits = [
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if "setCheckpointDir" in p.read_text()
    ]
    assert hits == ["functions/lifecycle.py"], hits


def test_cache_mode_is_fixed_where_each_operator_is_defined():
    """No function takes a ``release`` parameter (only the decorator's own
    keyword) and no caller passes ``release=`` (only to
    ``lifecycle.operator``)."""
    root = PKG.parent
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "release" in names and not (
                    path.name == "lifecycle.py" and node.name == "operator"
                ):
                    offenders.append(f"{path.name}:{node.lineno} def {node.name}")
    callers = [
        *PKG.rglob("*.py"),
        root / "__spark_entry__.py",
        root / "bench.py",
        *(root / "tools").glob("*.py"),
    ]
    for path in sorted(callers):
        if path.name == "lifecycle.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            if ast.unparse(node.func) == "lifecycle.operator":
                continue
            if any(k.arg == "release" for k in node.keywords):
                offenders.append(f"{path.name}:{node.lineno} release=")
    assert not offenders, offenders


# Queries that kept 1-3 persisted RDDs after running into the noop sink:
# four on a checkpoint-and-free path, the rest on hand-over operators.
LEAKERS = [
    "rbo_customers",
    "similarity_ivf_topk",
    "salted_skew_join",
    "explode_shingle_vocab",
    "text_fingerprint",
    "dedup_ngram_jaccard",
    "dedup_minhash_pairs",
    "dedup_prefix_jaccard",
    "dedup_incremental_jaccard",
    "dedup_simhash_pairs",
    "bigram_lm_scores",
    "ccnet_perplexity_buckets",
    "source_overlap_matrix",
    "dedup_containment",
    "robust_scale_orders",
    "event_cooccurrence",
    "frequent_brand_pairs",
    # hand-over pairs consumed by connected components inside a scope
    "dedup_clusters",
    "dedup_cluster_stats",
]


@pytest.mark.parametrize("name", LEAKERS)
def test_released_query_pins_nothing(spark, sf_dir, name):
    spark.catalog.clearCache()
    assert _pinned(spark) == 0
    df = entrymod.queries()[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    lifecycle.release(df)
    assert _pinned(spark) == 0, spark.sparkContext._jsc.getPersistentRDDs()


def test_default_path_operators_pin_nothing_on_return(spark, sf_dir):
    from breweries_etl_spark.operators.dedup import shingle_sets
    from breweries_etl_spark.operators.hypotests import quantized_money
    from breweries_etl_spark.operators.profiling import rank_biased_overlap
    from breweries_etl_spark.operators.similarity import ivf_topk
    from breweries_etl_spark.operators.skewjoin import salted_join
    from breweries_etl_spark.sources.tables import load_table

    spark.catalog.clearCache()
    orders = load_table(spark, sf_dir, "orders")
    rank_biased_overlap(
        orders,
        "o_custkey",
        F.sum(quantized_money(F.col("o_totalprice"))),
        F.count(F.lit(1)),
    )
    assert _pinned(spark) == 0
    emb = load_table(spark, sf_dir, "embeddings")
    ivf_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)
    assert _pinned(spark) == 0
    sh = shingle_sets(load_table(spark, sf_dir, "documents"))
    assert _pinned(spark) == 0
    lifecycle.release(sh)
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    joined = salted_join(li, sup, "l_suppkey", "s_suppkey", salt_on="l_orderkey")
    assert _pinned(spark) == 0
    lifecycle.release(joined)


def test_dedup_release_false_hands_over_every_cache(spark, sf_dir):
    """ADVICE r13: rep_sh/members had no handle when handed over."""
    from breweries_etl_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs
    from breweries_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for op in (ngram_jaccard_pairs, containment_pairs):
        spark.catalog.clearCache()
        out = op(docs)
        # sh, rep_sh and members
        assert len(lifecycle.handle(out).frames) == 3
        out.write.format("noop").mode("overwrite").save()
        assert _pinned(spark) > 0
        lifecycle.release(out)
        assert _pinned(spark) == 0


def test_nested_release_keeps_enclosing_caches(spark):
    """An inner checkpoint-and-free operator must not free an RDD that backs a
    frame of the enclosing scope, even when its job filled it first."""
    from breweries_etl_spark.operators.hypotests import ks_test_2samp

    spark.catalog.clearCache()
    df = spark.range(200).select(
        (F.col("id") % 17).cast("double").alias("v"), (F.col("id") % 2 == 0).alias("g")
    )

    @lifecycle.operator(release=False)
    def outer():
        base = lifecycle.persist(df.filter(F.col("v") > 1))
        ks_test_2samp(base, "v", F.col("g")).collect()
        assert base.storageLevel.useMemory
        return base

    out = outer()
    assert _pinned(spark) == 1
    lifecycle.release(out)
    assert _pinned(spark) == 0


def test_operator_frees_on_exception(spark):
    spark.catalog.clearCache()

    @lifecycle.operator
    def boom():
        lifecycle.persist(spark.range(10)).count()
        raise RuntimeError("injected")

    with pytest.raises(RuntimeError, match="injected"):
        boom()
    assert _pinned(spark) == 0


def test_persist_outside_a_scope_is_an_error(spark):
    with pytest.raises(RuntimeError, match="outside an operator scope"):
        lifecycle.persist(spark.range(1))


def test_cached_plan_partitioning_pinned(spark):
    assert (
        spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "false"
    )


def test_call_site_capture_off(spark):
    """Building a plan makes no per-call origin round trips (session.py)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_bucketed_persist_consumer_has_no_exchange_above_cache(spark, unreleased):
    """VERDICT r13 #2: the (b)-keyed consumers of the prefix-count
    primitive's persisted bucket relation read it without a shuffle."""
    from breweries_etl_spark.operators.hypotests import ks_test_2samp

    spark.catalog.clearCache()
    df = spark.range(2000).select(
        (F.col("id") % 113).cast("double").alias("v"), (F.col("id") % 3 == 0).alias("g")
    )
    out = unreleased(ks_test_2samp)(df, "v", F.col("g"))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan()
    lines = plan.toString().splitlines()
    try:
        assert any("InMemoryTableScan" in ln for ln in lines), plan.toString()
        for i, ln in enumerate(lines):
            if "InMemoryTableScan" in ln and i > 0:
                # the operator directly above the cache scan
                assert "Exchange" not in lines[i - 1], "\n".join(lines[i - 3 : i + 1])
    finally:
        lifecycle.release(out)


def test_bench_survives_child_timeouts(tmp_path, monkeypatch, capsys):
    import bench

    monkeypatch.setattr(
        bench.os.path, "dirname", lambda p, _orig=os.path.dirname: str(tmp_path)
    )
    monkeypatch.setattr(bench, "FAMILIES", {"fam": ["q1"]})

    def hang(args, **kw):
        raise subprocess.TimeoutExpired(args, kw.get("timeout"))

    monkeypatch.setattr(bench.subprocess, "run", hang)
    bench.main()
    tail = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert tail["metric"] == "headline_queries_total"
    assert tail["n_queries"] == 0
    full = json.loads((tmp_path / "BENCH_SELF.json").read_text())
    assert set(full["failures"]) == {
        f"solo:{bench.CANARY_QUERY}",
        "family:fam",
    }
