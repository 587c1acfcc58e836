"""Feature battery tests: hashed-path ⇄ wide-row-path equivalence, plus
semantics pins for interactions and scaler folding.

The hashed path (pair_features_hashed) is the production/scale
implementation; the wide-row path (pair_features) is the direct
re-expression of the reference's per-pair battery
(feature_engineering.py:332-392).  Bit-level agreement between the two is
the strongest semantics check we have.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark import synth
from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
from entity_resolution_pipeline_spark.operators import (
    embedding as E,
)
from entity_resolution_pipeline_spark.operators import extract as X
from entity_resolution_pipeline_spark.operators import features as FE
from entity_resolution_pipeline_spark.operators import preprocess as P
from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS


@pytest.fixture(scope="module")
def prep(spark):
    pages = synth.pages_df(spark, 300)
    gt = spark.createDataFrame(synth.ground_truth_pdf(300), LABELED_PAIRS)
    records = X.extract_records(pages)
    melted = P.melt_fields(records).cache()
    melted.count()
    uniq = P.unique_strings(melted)
    rfh = P.record_field_hashes(melted)
    emb = E.embed_unique_strings(melted, DEFAULT_CONFIG.embedding)
    vectors = emb.select("hash", "embedding").dropDuplicates(["hash"])
    pairs = gt.select(
        F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match"
    )
    return melted, uniq, rfh, vectors, pairs


# both vector paths of the scale battery: the host-shared mmap matrix
# (default) and the shuffle-join cosines (no shared storage)
_VECTOR_PATHS = (True, False)


def _by_pair(df):
    return df.toPandas().set_index(["left_id", "right_id"]).sort_index()


def test_hashed_equals_wide_row_battery(prep):
    melted, uniq, rfh, vectors, pairs = prep
    cfg = DEFAULT_CONFIG.features
    old = _by_pair(
        FE.pair_features(FE.assemble_pairs(pairs, FE.record_repr(melted, vectors)), cfg)
    )
    for bv in _VECTOR_PATHS:
        new = _by_pair(
            FE.pair_features_hashed(
                pairs, rfh, uniq, vectors, dataclasses.replace(cfg, broadcast_vectors=bv)
            )
        )
        assert len(old) == len(new) and sorted(old.columns) == sorted(new.columns), bv
        for c in old.columns:
            if c == "match":
                assert (old[c] == new[c]).all(), bv
            else:
                assert np.allclose(
                    old[c].to_numpy(float), new[c].to_numpy(float), atol=1e-6
                ), (bv, c)


def test_fused_scoring_matches_unfused(prep):
    """pair_predictions_hashed (one fused Python stage) must reproduce
    score(pair_features_hashed(...)) bit-for-bit — same sigmoid clip, same
    folded scaler — on both vector paths (each side built from the same
    config)."""
    from entity_resolution_pipeline_spark.operators import classify as C

    melted, uniq, rfh, vectors, pairs = prep
    cfg = DEFAULT_CONFIG
    feats = FE.pair_features_hashed(pairs, rfh, uniq, vectors, cfg.features)
    cols = FE.selected_feature_names(cfg.features, cfg.feature_selection)
    model, _ = C.fit(feats, cols, cfg.classifier)

    for bv in _VECTOR_PATHS:
        fcfg = dataclasses.replace(cfg.features, broadcast_vectors=bv)
        unfused = _by_pair(
            C.score(FE.pair_features_hashed(pairs, rfh, uniq, vectors, fcfg), model)
        )
        fused = _by_pair(
            FE.pair_predictions_hashed(pairs.drop("match"), rfh, uniq, vectors, model, fcfg)
        )
        assert len(unfused) == len(fused), bv
        assert (unfused["match"] == fused["match"]).all(), bv
        assert np.allclose(
            unfused["probability"].to_numpy(), fused["probability"].to_numpy(), atol=1e-12
        ), bv


def test_feature_names_and_selection():
    cfg = DEFAULT_CONFIG.features
    names = FE.feature_names(cfg)
    assert "person_cosine" in names and "composite_cosine" in names
    assert "title_cosine_squared" in names and "low_composite_penalty" in names
    assert "person_norm_levenshtein" in names and "person_norm_jaro_winkler" in names
    assert "birth_death_match" in names
    sel = FE.selected_feature_names(cfg, DEFAULT_CONFIG.feature_selection)
    assert set(sel) <= set(names)
    assert "person_title_harmonic" in sel and "low_composite_penalty" in sel
    assert sel == sorted(sel)


def test_scaler_roundtrip(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 10.0), (3.0, 10.0)], ["a", "b"]
    )
    params = FE.fit_scaler(df, ["a", "b"])
    assert params["a"][0] == pytest.approx(2.0)
    assert params["b"] == (10.0, 1.0)  # zero-variance → scale 1.0
    out = FE.apply_scaler(df, params).collect()
    vals = sorted(r["a"] for r in out)
    assert vals[1] == pytest.approx(0.0)
