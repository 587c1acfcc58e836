"""Structured Streaming ingest: stream/batch parity, exactly-once resume,
incremental candidate generation, watermarked window stats."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark import synth
from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
from entity_resolution_pipeline_spark.operators.blocking import (
    block_membership,
    candidate_pairs,
)
from entity_resolution_pipeline_spark.operators.extract import extract_records
from entity_resolution_pipeline_spark.schemas import PAGES
from entity_resolution_pipeline_spark.streaming import (
    ingest_stats_stream,
    read_pages_stream,
    run_incremental,
)
from entity_resolution_pipeline_spark.streaming.ingest import read_accumulated


def _write_pages(spark, tmp, name: str, start: int, stop: int) -> str:
    """One parquet file of synthetic pages covering record indices
    [start, stop) — each call lands as a separate input file for the
    file-source stream."""
    path = os.path.join(tmp, "in")
    pdf = synth.pages_pdf(stop)[start:stop][["url", "warc_ts", "html", "text", "lang"]]
    spark.createDataFrame(pdf, PAGES).coalesce(1).write.mode("append").parquet(path)
    return path


def _cfg_no_cap():
    """Blocking config with the hot-block cap out of the way so incremental
    and batch candidate sets are exactly comparable."""
    import dataclasses

    return DEFAULT_CONFIG.replace(
        blocking=dataclasses.replace(DEFAULT_CONFIG.blocking, max_block_size=10**6)
    )


def test_incremental_matches_batch_and_resumes(spark, tmp_path):
    tmp = str(tmp_path)
    out = os.path.join(tmp, "out")
    cfg = _cfg_no_cap()

    in_path = _write_pages(spark, tmp, "b0", 0, 120)
    _write_pages(spark, tmp, "b1", 120, 200)

    # two input files, forced into separate micro-batches
    run_incremental(spark, in_path, out, cfg, max_files_per_trigger=1)

    recs = read_accumulated(spark, out, "records")
    assert recs.count() == 200
    # per-batch manifest lineage rows exist
    from entity_resolution_pipeline_spark.sources.manifest import read_manifest

    mf = read_manifest(spark, out)
    stages = {r["stage"] for r in mf.collect()}
    assert any(s.startswith("stream_ingest_batch_") for s in stages)

    # accumulated candidate pairs == batch-mode candidate pairs on the union
    pages_all = spark.createDataFrame(
        synth.pages_pdf(200)[["url", "warc_ts", "html", "text", "lang"]], PAGES
    )
    batch_pairs = candidate_pairs(
        block_membership(extract_records(pages_all), cfg.blocking), cfg.blocking
    )
    stream_pairs = read_accumulated(spark, out, "candidates")
    sp = {(r["left_id"], r["right_id"]) for r in stream_pairs.collect()}
    bp = {(r["left_id"], r["right_id"]) for r in batch_pairs.collect()}
    assert sp == bp and len(sp) > 0

    # restart with no new files: no new work (exactly-once over input files)
    run_incremental(spark, in_path, out, cfg, max_files_per_trigger=1)
    assert read_accumulated(spark, out, "records").count() == 200
    assert read_accumulated(spark, out, "candidates").count() == len(sp)

    # add a file; only the delta is processed, pairs still equal batch mode
    _write_pages(spark, tmp, "b2", 200, 260)
    run_incremental(spark, in_path, out, cfg, max_files_per_trigger=1)
    assert read_accumulated(spark, out, "records").count() == 260
    pages_all = spark.createDataFrame(
        synth.pages_pdf(260)[["url", "warc_ts", "html", "text", "lang"]], PAGES
    )
    bp = {
        (r["left_id"], r["right_id"])
        for r in candidate_pairs(
            block_membership(extract_records(pages_all), cfg.blocking), cfg.blocking
        ).collect()
    }
    sp = {
        (r["left_id"], r["right_id"])
        for r in read_accumulated(spark, out, "candidates").collect()
    }
    assert sp == bp


def test_recrawled_urls_are_dropped(spark, tmp_path):
    """A record_id seen in an earlier batch is not re-ingested (streaming
    exact-dedup against history)."""
    tmp = str(tmp_path)
    out = os.path.join(tmp, "out")
    cfg = _cfg_no_cap()
    in_path = _write_pages(spark, tmp, "b0", 0, 50)
    run_incremental(spark, in_path, out, cfg)
    _write_pages(spark, tmp, "b1", 0, 80)  # 0-50 are re-crawls
    run_incremental(spark, in_path, out, cfg)
    recs = read_accumulated(spark, out, "records")
    assert recs.count() == 80
    assert recs.select("record_id").distinct().count() == 80


def test_incremental_scoring_matches_batch(spark, tmp_path):
    """Streaming incremental scoring (frozen IDF weights + fused battery)
    over two batches must reproduce the batch predict path on the union —
    same candidate pairs, bit-equal probabilities."""
    import dataclasses

    from entity_resolution_pipeline_spark.operators import blocking as B
    from entity_resolution_pipeline_spark.plans import pipeline as PL
    from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

    tmp = str(tmp_path)
    out = os.path.join(tmp, "out")
    cfg = _cfg_no_cap()

    # train once on the full corpus (the reference's offline step); freeze
    # the model + IDF weights
    n = 200
    pages_all = spark.createDataFrame(
        synth.pages_pdf(n)[["url", "warc_ts", "html", "text", "lang"]], PAGES
    )
    gt = spark.createDataFrame(synth.ground_truth_pdf(n), LABELED_PAIRS)
    prep = PL.run_labeled(pages_all, gt, cfg)
    model, weights = prep.model, prep.idf_weights

    # batch predict path under the SAME frozen weights
    membership = B.block_membership(prep.records, cfg.blocking)
    candidates = B.candidate_pairs(membership, cfg.blocking)
    batch_preds = {
        (r["left_id"], r["right_id"]): (round(r["probability"], 9), r["match"])
        for r in PL.score_pairs(candidates, prep, model, cfg).collect()
    }

    # streaming: two micro-batches
    in_path = _write_pages(spark, tmp, "b0", 0, 120)
    _write_pages(spark, tmp, "b1", 120, n)
    run_incremental(
        spark, in_path, out, cfg, max_files_per_trigger=1,
        model=model, idf_weights=weights,
    )
    stream_preds = {
        (r["left_id"], r["right_id"]): (round(r["probability"], 9), r["match"])
        for r in read_accumulated(spark, out, "predictions").collect()
    }
    assert set(stream_preds) == set(batch_preds)
    assert stream_preds == batch_preds
    assert any(v[1] for v in stream_preds.values())  # some matches found


def test_incremental_scoring_releases_vector_staging(spark, tmp_path, monkeypatch):
    """Each scored micro-batch stages the accumulated vector table once and
    removes that staging dir after its predictions are written — no
    per-batch matrix copy survives the stream (on tmpfs a leaked copy is
    RAM until process exit)."""
    import numpy as np

    from entity_resolution_pipeline_spark.operators import classify as C
    from entity_resolution_pipeline_spark.operators import features as FE

    created = []
    real_stage = FE.stage_vector_matrix

    def recording_stage(*args, **kwargs):
        staged = real_stage(*args, **kwargs)
        created.append(staged[3])
        return staged

    monkeypatch.setattr(FE, "stage_vector_matrix", recording_stage)

    tmp = str(tmp_path)
    out = os.path.join(tmp, "out")
    cfg = _cfg_no_cap()
    names = FE.selected_feature_names(cfg.features, cfg.feature_selection)
    model = C.LRModel(
        weights=np.ones(len(names)),
        bias=0.0,
        feature_names=names,
        decision_threshold=0.5,
        scaler={c: (0.0, 1.0) for c in names},
    )
    in_path = _write_pages(spark, tmp, "b0", 0, 60)
    _write_pages(spark, tmp, "b1", 60, 100)
    run_incremental(spark, in_path, out, cfg, max_files_per_trigger=1, model=model)

    assert read_accumulated(spark, out, "predictions").count() > 0
    assert len(created) == 2  # one staging per micro-batch
    assert [d for d in created if os.path.exists(d)] == []


def test_stream_extract_matches_batch(spark, tmp_path):
    """readStream → extraction == batch extraction on the same files (the
    byte-identical invariant lifts to streaming)."""
    tmp = str(tmp_path)
    in_path = _write_pages(spark, tmp, "b0", 0, 60)

    from entity_resolution_pipeline_spark.streaming import extract_records_stream

    got = []
    q = (
        extract_records_stream(read_pages_stream(spark, in_path))
        .writeStream.foreachBatch(lambda df, bid: got.append(df.toPandas()))
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import pandas as pd

    streamed = pd.concat(got).sort_values("record_id").reset_index(drop=True)
    batch = (
        extract_records(spark.read.parquet(in_path))
        .toPandas()
        .sort_values("record_id")
        .reset_index(drop=True)
    )
    assert streamed["warc_ts"].notna().all()
    pd.testing.assert_frame_equal(streamed.drop(columns=["warc_ts"]), batch)


def test_windowed_ingest_stats(spark, tmp_path):
    """Watermarked tumbling-window counts match the batch groupBy(window)."""
    tmp = str(tmp_path)
    in_path = _write_pages(spark, tmp, "b0", 0, 200)

    q = (
        ingest_stats_stream(read_pages_stream(spark, in_path), window="1 hour")
        .writeStream.format("memory")
        .queryName("ingest_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["window_start"], r["lang"]): r["pages"]
        for r in spark.table("ingest_stats").collect()
    }
    batch = {
        (r["ws"], r["lang"]): r["pages"]
        for r in spark.read.parquet(in_path)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count("*").alias("pages"))
        .select(F.col("w.start").alias("ws"), "lang", "pages")
        .collect()
    }
    assert streamed == batch and len(batch) > 1
