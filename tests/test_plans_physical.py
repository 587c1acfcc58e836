"""Physical-plan shape pins: the declarative plans must compile to the
intended strategies.  These are the properties that make the engine scale —
regressions here (a lost broadcast, a dropped pushdown, an extra Python
stage) silently cost multiples at 100 TB, so they are pinned as tests."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as e

    return e


def test_q3_broadcasts_the_dimension(spark, entry_mod):
    """customer (filtered dim) must broadcast — the fact table never
    shuffles on the join key."""
    df = entry_mod.queries()["top_unshipped_orders"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_scan_prunes_columns(spark, entry_mod):
    """token_counts projects 2 of 5 document columns — the parquet scan
    must read only those (column pruning reached the source)."""
    df = entry_mod.queries()["token_counts"](spark, SF_DIR)
    plan = _plan(df)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "n_chars" not in scan, scan


def test_filter_pushdown_reaches_scan(spark, entry_mod):
    """top_unshipped_orders' date predicates must appear as PushedFilters
    on the orders/lineitem scans, not as post-scan filters only."""
    df = entry_mod.queries()["top_unshipped_orders"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "LessThan" in ln or "GreaterThan" in ln]
    assert pushed, plan


def test_dedup_agg_is_partial(spark, entry_mod):
    """exact_dedup_groups must map-side combine: two HashAggregate nodes
    (partial + final) around one exchange."""
    df = entry_mod.queries()["exact_dedup_groups"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_count" in plan or "merge_count" in plan or "count" in plan


def test_fused_predict_is_one_python_stage(spark):
    """The predict path must contain exactly ONE Python (mapInPandas) node —
    battery + scoring fused; no second Arrow round-trip — on both vector
    paths: the shuffle-join path adds only its distinct-hash-pair cosine
    UDF, no string-sims or birth/death stage of its own."""
    import dataclasses

    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark import synth
    from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
    from entity_resolution_pipeline_spark.operators import blocking as B
    from entity_resolution_pipeline_spark.operators import classify as C
    from entity_resolution_pipeline_spark.operators import features as FE
    from entity_resolution_pipeline_spark.plans import pipeline as PL
    from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

    pages = synth.pages_df(spark, 200)
    gt = spark.createDataFrame(synth.ground_truth_pdf(200), LABELED_PAIRS)
    prep = PL.prepare(pages, DEFAULT_CONFIG)
    lp = gt.select(F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match")
    feats = PL.featurize_pairs(lp, prep, DEFAULT_CONFIG)
    cols = FE.selected_feature_names(DEFAULT_CONFIG.features, DEFAULT_CONFIG.feature_selection)
    model, _ = C.fit(feats, cols, DEFAULT_CONFIG.classifier)

    membership = B.block_membership(prep.records, DEFAULT_CONFIG.blocking)
    candidates = B.candidate_pairs(membership, DEFAULT_CONFIG.blocking)
    shuffle_cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        features=dataclasses.replace(DEFAULT_CONFIG.features, broadcast_vectors=False),
    )
    for cfg in (DEFAULT_CONFIG, shuffle_cfg):
        plan = _plan(PL.score_pairs(candidates, prep, model, cfg))
        # exactly one battery/scoring Python stage ("run"); the other
        # MapInPandas nodes in this TEST plan are the synthetic page generator
        assert plan.count("MapInPandas run(") == 1, plan
        assert "ArrowEvalPython [sims" not in plan, plan
        assert "ArrowEvalPython [birth_death_udf" not in plan, plan


def test_levenshtein_is_jvm_codegen(spark):
    """The carried-string levenshtein must be a JVM expression (inside the
    plan, not inside the Python UDF)."""
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark import synth
    from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
    from entity_resolution_pipeline_spark.plans import pipeline as PL
    from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

    pages = synth.pages_df(spark, 200)
    gt = spark.createDataFrame(synth.ground_truth_pdf(200), LABELED_PAIRS)
    prep = PL.prepare(pages, DEFAULT_CONFIG)
    lp = gt.select(F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match")
    feats = PL.featurize_pairs(lp, prep, DEFAULT_CONFIG)
    assert "levenshtein" in _plan(feats)


def test_lm_quality_buckets_never_sorts_globally(spark, entry_mod):
    """The CCNet split's cut points come from a 1-row percentile agg, not a
    window/ntile — the plan must contain NO range partitioning (global
    sort) and NO Window; the threshold side folds back as a broadcast."""
    df = entry_mod.queries()["lm_quality_buckets"](spark, SF_DIR)
    plan = _plan(df)
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_remove_dup_spans_semi_join_and_pruned_grams(spark, entry_mod):
    """Exact-substring dedup: the duplicate-hash probe must be a LEFT SEMI
    join (gram rows are never multiplied by match count), and the gram-side
    scan must read only (doc_id, text)."""
    df = entry_mod.queries()["remove_dup_spans"](spark, SF_DIR)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "lang" not in scan and "n_chars" not in scan, scan


def test_minhash_verify_kernel_runs_once_per_pair(spark):
    """The exact-verify intersect kernel must appear exactly ONCE in the
    final plan of minhash_lsh_pairs: a deterministic UDF alias referenced by
    both the threshold filter and the output projection is inlined into
    each, which ships every gate survivor through the Arrow kernel twice."""
    from entity_resolution_pipeline_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        list(enumerate([base, base + " tail", "alpha bravo charlie delta echo"])),
        "doc_id long, text string",
    )
    df = minhash_lsh_pairs(docs)
    assert len(df.collect()) == 1
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert final.count("ArrowEvalPython [intersect_size_udf") == 1, final
