"""The three benchmark workloads.

Each workload has
  * ``setup()`` — input generation (cached before timing) and model
    training where needed;
  * ``warm_passes`` — how many untimed passes over the timed input the run
    makes after ``setup()``, inside the set-up time;
  * ``min_passes`` — the fewest timed passes a run makes, however long they
    take;
  * ``iterate(tracer)`` — one timed pass over the cached input, calling the
    package's public layer functions from outside, each inside a span;
  * ``probe(res, tracer)`` — traced runs only, after the pass: re-runs a
    layer the pass calls only from inside the package, on the same inputs,
    so it shows as a layer of its own;
  * ``check(result)`` — the per-iteration correctness checks;
  * ``final_checks()`` — checks run once per run, outside the timed region;
  * ``quality`` — the workload's quality figure, computed from the last
    iteration.

With tracing on, ``iterate`` materializes each layer's output before the
next layer starts, so every job lands in one layer's job group.
"""

from __future__ import annotations

import gc
import os
import random
import shutil

import pandas as pd
from pyspark.sql import functions as F

import gen

# Sizes keep one run of each workload under ~60 s on a 4-core host (a sweep
# of the benchmark is tens of runs).  At these sizes a pass is still mostly
# per-job overhead for curation, and scoring leads ER by a modest margin;
# the README records both.
ER_RECORDS = 10_000
TRAIN_RECORDS = 2_000
DEDUP_DOCS = 10_000
CURATE_DOCS = 1_200
JACCARD_SAMPLE = 200
THRESHOLD = 0.5


def _release(spark, *frames) -> None:
    for df in frames:
        if df is not None:
            df.unpersist()
    spark.catalog.clearCache()
    gc.collect()


# ------------------------------------------------------------- er_linkage


class ErLinkage:
    """pages → prepare → block → candidates → score → cluster."""

    name = "er_linkage"
    unit_work = "candidate pairs"
    # after one full warm-up pass the next is still 5-10 % slower (JIT)
    warm_passes = 2
    min_passes = 1

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.quality = None
        self.stats: dict = {}

    def _pages(self, idx: range):
        from entity_resolution_pipeline_spark import synth
        from entity_resolution_pipeline_spark.schemas import PAGES

        def render(batches):
            for pdf in batches:
                out = pd.DataFrame([synth.page_for_index(int(i)) for i in pdf["id"]])
                yield out[["url", "warc_ts", "html", "text", "lang"]]

        parts = max(self.spark.sparkContext.defaultParallelism, 8)
        return self.spark.range(idx.start, idx.stop, numPartitions=parts).mapInPandas(
            render, schema=PAGES
        )

    def setup(self, tracer) -> None:
        from entity_resolution_pipeline_spark import synth
        from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
        from entity_resolution_pipeline_spark.plans import pipeline as PL
        from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

        self.cfg = DEFAULT_CONFIG
        self.idx = gen.er_page_indices(self.seed, ER_RECORDS)
        self.pages = self._pages(self.idx).cache()
        self.n_records = self.pages.count()
        with tracer.span("er.train") as sp:
            tp = synth.pages_df(self.spark, TRAIN_RECORDS)
            gt = self.spark.createDataFrame(
                synth.ground_truth_pdf(TRAIN_RECORDS), LABELED_PAIRS
            )
            self.model = PL.run_labeled(tp, gt).model
        self.stats["er.train.s"] = sp["end"] - sp["start"]
        _release(self.spark)

    def _pass(self, pages, tracer, materialize: bool) -> dict:
        from entity_resolution_pipeline_spark.operators import blocking as B
        from entity_resolution_pipeline_spark.operators import cluster as G
        from entity_resolution_pipeline_spark.plans import pipeline as PL

        cfg = self.cfg
        with tracer.span("er.prepare") as sp:
            prep = PL.prepare(pages, cfg)
            if materialize:
                sp["rows"] = prep.records.count()
                for df in (prep.melted, prep.unique_strings, prep.record_field_hashes):
                    df.count()
        with tracer.span("er.block") as sp:
            membership = B.block_membership(prep.records, cfg.blocking)
            cands = B.candidate_pairs(membership, cfg.blocking).persist()
            n_cands = sp["rows"] = cands.count()
            membership.unpersist()
        with tracer.span("er.embed.wait"):
            prep.embeddings  # blocks on prepare()'s background vector build
        with tracer.span("er.score") as sp:
            preds = PL.score_pairs(cands, prep, self.model, cfg).persist()
            n_preds = sp["rows"] = preds.count()
        with tracer.span("er.cluster") as sp:
            clusters = G.cluster_predictions(
                preds, prep.records.select("record_id"), cfg.clustering
            ).persist()
            sp["rows"] = clusters.count()
        return {
            "prep": prep, "cands": cands, "preds": preds, "clusters": clusters,
            "n_cands": n_cands, "n_preds": n_preds,
        }

    def iterate(self, tracer) -> dict:
        return self._pass(self.pages, tracer, materialize=tracer.enabled)

    def probe(self, res: dict, tracer) -> None:
        pass

    def work_done(self, res: dict) -> int:
        return res["n_preds"]

    def check(self, res: dict) -> list[str]:
        errors = []
        if res["n_preds"] != res["n_cands"]:
            errors.append(f"{res['n_preds']} predictions for {res['n_cands']} candidates")
        c = res["clusters"].agg(
            F.count("*").alias("rows"),
            F.countDistinct("entity_id").alias("ids"),
        ).first()
        if not (c["rows"] == c["ids"] == self.n_records):
            errors.append(
                f"cluster rows {c['rows']} / distinct records {c['ids']} "
                f"!= {self.n_records} records"
            )
        ent = lambda c: F.split(F.col(c), "#").getItem(0)  # noqa: E731
        agg = (
            res["preds"].where(F.col("match"))
            .select((ent("left_id") == ent("right_id")).alias("same"))
            .agg(
                F.sum(F.col("same").cast("long")).alias("tp"),
                F.sum((~F.col("same")).cast("long")).alias("fp"),
            )
            .first()
        )
        tp, fp = int(agg["tp"] or 0), int(agg["fp"] or 0)
        per = gen.RECORDS_PER_ENTITY
        positives = (self.n_records // per) * per * (per - 1) // 2
        precision = tp / (tp + fp) if tp + fp else 0.0
        recall = tp / positives
        f1 = 2 * precision * recall / (precision + recall) if tp else 0.0
        self.quality = f1
        self.stats.update(precision=precision, recall=recall)
        return errors

    def release(self, res: dict) -> None:
        prep = res["prep"]
        _release(
            self.spark, res["clusters"], res["preds"], res["cands"], prep.records,
            prep.melted, prep.unique_strings, prep.record_field_hashes,
            prep.embeddings,
        )
        self._cleanup()

    @staticmethod
    def _cleanup() -> None:
        from entity_resolution_pipeline_spark.operators import features as FE

        FE.cleanup_stage_dirs()

    def final_checks(self, tracer) -> list[str]:
        return []

    layers = ("er.prepare", "er.block", "er.score", "er.cluster")
    waits = ("er.embed.wait",)


# ------------------------------------------------------------ corpus_dedup


class CorpusDedup:
    """fuzzy_dedup over a generated corpus; the traced pass also runs the
    chain's layers one at a time (exact collapse → MinHash LSH pairs →
    connected components)."""

    name = "corpus_dedup"
    unit_work = "docs"
    # pass times still fall over the first two full passes (JIT)
    warm_passes = 2
    # a pass is ~2.3 s and a single pass varies by ~10 %: a median of
    # several keeps one slow pass from moving the run's figure
    min_passes = 4

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.quality = None
        self.stats: dict = {}

    def _docs(self, seed: int, n: int):
        c = gen.corpus(seed, n)
        pdf = pd.DataFrame({"doc_id": c["doc_id"], "text": c["text"]})
        parts = max(self.spark.sparkContext.defaultParallelism, 8)
        df = self.spark.createDataFrame(pdf, "doc_id long, text string")
        return c, df.repartition(parts).cache()

    def setup(self, tracer) -> None:
        self.corpus, self.docs = self._docs(self.seed, DEDUP_DOCS)
        self.n_docs = self.docs.count()
        self.text_of = dict(zip(self.corpus["doc_id"], self.corpus["text"]))

    def _fuzzy(self, docs, tracer) -> dict:
        from entity_resolution_pipeline_spark.operators.webtext import fuzzy_dedup

        with tracer.span("dedup.fuzzy") as sp:
            out = fuzzy_dedup(docs, threshold=THRESHOLD).persist()
            sp["rows"] = out.count()
        return {"out": out}

    def _layers(self, docs, tracer):
        """fuzzy_dedup's chain, one public layer at a time: the exact-text
        pre-collapse (pairable texts, md5 family → min string id), MinHash
        LSH pairs over the family representatives, then connected
        components over pairs ∪ family star edges.

        The pre-collapse has no public entry point, so it is mirrored here
        from ``webtext.fuzzy_dedup``; a change to it there must be made
        here too.  ``final_checks`` catches drift: the roots computed here
        must equal fuzzy_dedup's ``cluster_root`` for every doc.  Returns
        the persisted pairs and components; the caller releases them."""
        from entity_resolution_pipeline_spark.operators import dedup as D
        from entity_resolution_pipeline_spark.operators.cluster import (
            connected_components,
        )

        with tracer.span("dedup.collapse") as sp:
            sid = F.col("doc_id").cast("string")
            elig = docs.where(D.pairable_text_predicate("text")).select(
                sid.alias("eid"), F.md5("text").alias("fp")
            )
            fam = elig.groupBy("fp").agg(F.min("eid").alias("rep"))
            star = (
                elig.join(fam, "fp").where(F.col("eid") != F.col("rep"))
                .select(F.col("eid").alias("src"), F.col("rep").alias("dst"))
                .persist()
            )
            reps = docs.join(fam.select("rep"), sid == F.col("rep"), "left_semi").persist()
            star.count()
            sp["rows"] = reps.count()
        with tracer.span("dedup.minhash") as sp:
            pairs = D.minhash_lsh_pairs(reps, threshold=THRESHOLD).persist()
            n_pairs = sp["rows"] = pairs.count()
        with tracer.span("dedup.cc") as sp:
            edges = pairs.select(
                F.col("left_id").cast("string").alias("src"),
                F.col("right_id").cast("string").alias("dst"),
            ).unionByName(star)
            cc = connected_components(edges).persist()
            sp["rows"] = cc.count()
        _release(self.spark, star, reps)
        return n_pairs, pairs, cc

    def iterate(self, tracer) -> dict:
        return self._fuzzy(self.docs, tracer)

    def probe(self, res: dict, tracer) -> None:
        _, pairs, cc = self._layers(self.docs, tracer)
        _release(self.spark, pairs, cc)

    def work_done(self, res: dict) -> int:
        return self.n_docs

    def check(self, res: dict) -> list[str]:
        errors = []
        rows = res["out"].select("doc_id", "cluster_root", "kept").collect()
        if len(rows) != self.n_docs:
            errors.append(f"{len(rows)} output rows for {self.n_docs} docs")
        root = {int(r["doc_id"]): r["cluster_root"] for r in rows}
        kept: dict[str, int] = {}
        for r in rows:
            kept[r["cluster_root"]] = kept.get(r["cluster_root"], 0) + int(r["kept"])
        bad = sum(1 for v in kept.values() if v != 1)
        if bad:
            errors.append(f"{bad} clusters do not keep exactly one doc")
        for fam in self.corpus["families"]:
            if len({root.get(d) for d in fam}) != 1:
                errors.append(f"exact-duplicate family {fam[:3]}... split")
                break
        near = self.corpus["near_pairs"]
        hit = sum(1 for a, b, _ in near if root.get(a) == root.get(b))
        self.quality = hit / len(near)
        self.root = root
        return errors

    def release(self, res: dict) -> None:
        _release(self.spark, res["out"])

    def final_checks(self, tracer) -> list[str]:
        """Exact Jaccard of a seeded sample of emitted LSH pairs, recomputed
        on the driver from the generated texts; every emitted pair inside
        one fuzzy_dedup cluster; and the layer-by-layer chain's roots equal
        to fuzzy_dedup's for every doc."""
        n_pairs, pairs, cc = self._layers(self.docs, tracer)
        rows = pairs.collect()
        cc_root = {r["entity_id"]: r["root"] for r in cc.collect()}
        _release(self.spark, pairs, cc)
        errors = []
        drift = sum(
            1 for d, r in self.root.items() if cc_root.get(str(d), str(d)) != r
        )
        if drift:
            errors.append(
                f"{drift} docs get another root from the layer-by-layer chain "
                "than from fuzzy_dedup (the mirrored pre-collapse drifted)"
            )
        if not rows:
            return ["no near-duplicate pairs emitted"]
        rng = random.Random(self.seed)
        for r in rng.sample(rows, min(JACCARD_SAMPLE, len(rows))):
            a, b = int(r["left_id"]), int(r["right_id"])
            j = gen.jaccard(self.text_of[a], self.text_of[b])
            # the program rounds to 6 dp (half-up); the exact value may sit
            # on either side of a rounding boundary
            if j < THRESHOLD or abs(j - r["jaccard"]) > 5.000001e-7:
                errors.append(f"pair ({a},{b}) jaccard {r['jaccard']} != exact {j:.6f}")
                break
        split = sum(
            1 for r in rows
            if self.root.get(int(r["left_id"])) != self.root.get(int(r["right_id"]))
        )
        if split:
            errors.append(f"{split} emitted pairs straddle two clusters")
        self.stats["emitted_pairs"] = n_pairs
        return errors

    layers = ("dedup.collapse", "dedup.minhash", "dedup.cc")
    waits = ()


# --------------------------------------------------------- snapshot_curate

SUBSTAGES = ("extract", "latest", "quality", "clean", "dedup", "sample", "chunks")


def _key_of(doc_id: int) -> int:
    """URL key the snapshot-curation page builder gives generated doc
    ``doc_id`` (rows with doc_id % 17 == 3 are a second capture of the
    previous row's URL)."""
    return doc_id - 1 if doc_id % 17 == 3 else doc_id


class SnapshotCurate:
    """Two crawl snapshots through run_curation; the second deduplicates
    against the first one's corpus table and merges into a copy of it."""

    name = "snapshot_curate"
    unit_work = "docs"
    warm_passes = 1
    min_passes = 1

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.quality = None
        self.stats: dict = {}
        self.funnel = None
        self._stage_spans: list = []

    def _write_pages(self, seed: int, n: int, tag: str) -> tuple[dict, str]:
        import __spark_entry__ as E

        c = gen.corpus(seed, n)
        pdf = pd.DataFrame({"doc_id": c["doc_id"], "text": c["text"]})
        docs = self.spark.createDataFrame(pdf, "doc_id long, text string")
        pages = E._curate_pages(docs)
        base = os.path.join(self.work, tag)
        for snap, parity in (("p1", 0), ("p2", 1)):
            pages.where(F.col("k") % 2 == parity).drop("k").write.parquet(
                os.path.join(base, snap)
            )
        return c, base

    def setup(self, tracer) -> None:
        import __spark_entry__ as E

        self.cfg = E._curate_cfg()
        self.corpus, self.base = self._write_pages(self.seed, CURATE_DOCS, "input")
        self.n_docs = CURATE_DOCS

    def _snapshot(self, pages: str, out: str, prior: str | None, tracer):
        from entity_resolution_pipeline_spark.plans.curation import (
            CURATE_SUBSTAGES,
            run_curation,
        )

        if not tracer.enabled:
            return run_curation(self.spark, pages, out, cfg=self.cfg, prior=prior)
        for stage, short in zip(CURATE_SUBSTAGES, SUBSTAGES):
            with tracer.span(f"curate.{short}") as sp:
                run_curation(
                    self.spark, pages, out, cfg=self.cfg, prior=prior,
                    resume=True, stop_after=stage,
                )
            self._stage_spans.append((out, stage, sp))
        with tracer.span("curate.merge") as sp:
            res = run_curation(
                self.spark, pages, out, cfg=self.cfg, prior=prior, resume=True
            )
        self._stage_spans.append((out, "curate_merge", sp))
        return res

    def _pass(self, base: str, out: str, tracer) -> dict:
        shutil.rmtree(out, ignore_errors=True)
        o1, o2 = os.path.join(out, "s1"), os.path.join(out, "s2")
        r1 = self._snapshot(os.path.join(base, "p1"), o1, None, tracer)
        shutil.copytree(os.path.join(o1, "corpus"), os.path.join(o2, "corpus"))
        r2 = self._snapshot(
            os.path.join(base, "p2"), o2, os.path.join(o1, "corpus"), tracer
        )
        return {"out": out, "r1": r1, "r2": r2}

    def iterate(self, tracer) -> dict:
        self._stage_spans = []
        return self._pass(self.base, os.path.join(self.work, "out"), tracer)

    def probe(self, res: dict, tracer) -> None:
        self._stage_rows()
        self._minhash_probe(res, tracer)

    def _stage_rows(self) -> None:
        """Rows each substage wrote, from the manifest summary rows."""
        from entity_resolution_pipeline_spark.sources import manifest as M

        rows = {}
        for out in {o for o, _, _ in self._stage_spans}:
            for r in (
                M.read_manifest(self.spark, out).where(F.col("partition_id") == -1)
                .select("stage", "rows").collect()
            ):
                rows[(out, r["stage"])] = int(r["rows"])
        for out, stage, sp in self._stage_spans:
            sp["rows"] = rows.get((out, stage), 0)

    def _minhash_probe(self, res: dict, tracer) -> None:
        """The cross-snapshot MinHash variant curate_dedup runs, re-run on
        its own inputs (snapshot 2's clean table vs snapshot 1's corpus) so
        its share of the workload shows as its own layer."""
        from entity_resolution_pipeline_spark.operators.webtext import (
            incremental_fuzzy_dedup,
        )

        o = res["out"]
        clean = self.spark.read.parquet(os.path.join(o, "s2", "curate_clean"))
        prior = self.spark.read.parquet(os.path.join(o, "s1", "corpus"))
        with tracer.span("dedup.minhash") as sp:
            flags = incremental_fuzzy_dedup(
                clean, prior, text_col="clean_text", threshold=THRESHOLD
            ).persist()
            sp["rows"] = flags.count()
        _release(self.spark, flags)

    def work_done(self, res: dict) -> int:
        return self.n_docs

    def _corpus_rows(self, out: str) -> list:
        return sorted(
            tuple(r)
            for r in self.spark.read.parquet(os.path.join(out, "s2", "corpus"))
            .select("doc_id", "n_clean_tokens", "bucket")
            .collect()
        )

    def check(self, res: dict) -> list[str]:
        """Every pass starts from empty output directories, so every pass
        after the warm-up one is a fresh rerun of both snapshots and must
        give its funnel again."""
        errors = []
        funnel = [_funnel(res["r1"]), _funnel(res["r2"])]
        if self.funnel is None:
            self.funnel = funnel
            self.stats["funnel_md5"] = gen.checksum(*zip(*funnel[0] + funnel[1]))
        elif funnel != self.funnel:
            errors.append("funnel differs from the warm-up pass's")
        s2 = dict((r[0], r[1]) for r in funnel[1])
        if not s2.get("extracted") or s2.get("deduped", 0) > s2.get("span_dedup", 0):
            errors.append(f"implausible snapshot-2 funnel {s2}")
        self.quality = self._cross_recall(res["out"])
        self.stats["write_bytes"] = _stage_bytes(res["out"])
        return errors

    def _cross_recall(self, out: str) -> float:
        """Share of planted cross-snapshot near-duplicate pairs (prior member
        in snapshot 1's corpus, new member in snapshot 2's clean table,
        exact Jaccard of the cleaned texts >= threshold) whose new member
        curate_dedup removed."""
        read = lambda *p: self.spark.read.parquet(os.path.join(out, *p))  # noqa: E731
        key = F.regexp_extract("doc_id", r"/article/(\d+)", 1).cast("long")
        prior = {
            int(r["k"]): r["clean_text"]
            for r in read("s1", "corpus").select(key.alias("k"), "clean_text").collect()
        }
        clean = {
            int(r["k"]): (r["doc_id"], r["clean_text"])
            for r in read("s2", "curate_clean")
            .select(key.alias("k"), "doc_id", "clean_text").collect()
        }
        kept = {r["doc_id"] for r in read("s2", "curate_dedup").select("doc_id").collect()}
        hit = total = 0
        for a, b, _ in self.corpus["near_pairs"]:
            for p, n in ((_key_of(a), _key_of(b)), (_key_of(b), _key_of(a))):
                if p in prior and n in clean:
                    if gen.jaccard(prior[p], clean[n][1]) >= THRESHOLD:
                        total += 1
                        hit += clean[n][0] not in kept
        self.stats["cross_pairs"] = total
        return hit / total if total else 0.0

    def release(self, res: dict) -> None:
        self.last_out = res["out"]
        _release(self.spark)

    def final_checks(self, tracer) -> list[str]:
        """A resume=True rerun of the second snapshot leaves its funnel and
        the merged corpus table unchanged."""
        from entity_resolution_pipeline_spark.plans.curation import run_curation

        out = self.last_out
        errors = []
        before = self._corpus_rows(out)
        r = run_curation(
            self.spark, os.path.join(self.base, "p2"), os.path.join(out, "s2"),
            cfg=self.cfg, prior=os.path.join(out, "s1", "corpus"), resume=True,
        )
        if _funnel(r) != self.funnel[1]:
            errors.append("resume rerun changed the snapshot-2 funnel")
        if self._corpus_rows(out) != before:
            errors.append("resume rerun changed the corpus table")
        shutil.rmtree(out, ignore_errors=True)
        return errors

    layers = tuple(f"curate.{s}" for s in SUBSTAGES + ("merge",))
    waits = ()


def _funnel(result: dict) -> list[tuple]:
    """(stage, doc count, token sum, id checksum) of each funnel row."""
    return [
        (r["stage_name"], r["n_docs"], r["n_tokens"], r["id_checksum"])
        for r in result["report"]
    ]


def _stage_bytes(out: str) -> int:
    """Bytes of the stage tables and corpus tables under a run's output
    directory (manifests excluded)."""
    total = 0
    for root, _dirs, files in os.walk(out):
        if "_manifest" in root.split(os.sep):
            continue
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (ErLinkage, CorpusDedup, SnapshotCurate)}
