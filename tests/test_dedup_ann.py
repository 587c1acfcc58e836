"""Dedup suite + ANN + text-analysis + multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.operators import ann, dedup, multimodal
from entity_resolution_pipeline_spark.functions import text_analysis as TA


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "The  quick  brown fox jumps over the lazy DOG"),        # ws/case dup of 0
        (3, "the quick brown fox leaps over the lazy dog"),          # near-dup (1 token)
        (4, "completely different content about spark shuffles"),
        (5, "completely different content about spark shuffles!"),   # near-dup of 4
        (6, "short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["canonical_id"] == 0 and g["dup_count"] == 3
    kept = sorted(r["doc_id"] for r in dedup.distinct_documents(docs).collect())
    assert kept == [0, 3, 4, 5, 6]


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and 0.5 <= pairs[(0, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs if p not in [(4, 5)])


def test_minhash_lsh_pairs(docs):
    pairs = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (4, 5) in pairs
    assert (0, 4) not in pairs


def test_simhash_pairs(docs):
    # one-char edit on the short fixture lands at hamming 4 under the
    # md5-based gram hash — banding with max_hamming=4 needs 5 bands for
    # pigeonhole completeness, so verify at 3 (strict) and 6 (loose) bounds
    pairs = {(r["left_id"], r["right_id"]): r["hamming"] for r in dedup.simhash_pairs(docs).collect()}
    assert pairs[(0, 1)] == 0          # identical text → identical signature
    assert (0, 2) in pairs             # normalized-identical → hamming 0
    assert (0, 4) not in pairs
    loose = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=6).collect()
    }
    assert (4, 5) in loose and loose[(4, 5)] <= 6  # tiny edit → few bits


def test_simhash_properties():
    a = TA.simhash64("the quick brown fox jumps over the lazy dog")
    b = TA.simhash64("the quick brown fox jumps over the lazy dog!")
    c = TA.simhash64("entirely unrelated text about query optimizers")
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(a, b) <= 6
    assert ham(a, c) > 10


def test_embedding_neardup_and_topk(spark):
    base = np.eye(4, dtype=np.float64)
    vecs = [
        (0, (base[0]).tolist()),
        (1, (base[0] * 0.99 + base[1] * 0.01).tolist()),  # ≈ v0
        (2, base[1].tolist()),
        (3, base[2].tolist()),
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pairs = {(r["left_id"], r["right_id"]) for r in dedup.embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert pairs == {(0, 1)}

    topk = ann.brute_force_topk(emb, queries=[(0, base[0].tolist())], k=2)
    rows = sorted(topk.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 2]
    assert rows[0]["cosine"] > 0.99


def test_lsh_bucket_topk_recall(spark):
    rng = np.random.Generator(np.random.PCG64(3))
    n, d = 200, 16
    M = rng.standard_normal((n, d))
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    # plant an exact near-neighbor for row 0
    M[1] = M[0] * 0.995 + rng.standard_normal(d) * 0.001
    emb = spark.createDataFrame(
        [(i, M[i].tolist()) for i in range(n)], ["vec_id", "embedding"]
    )
    approx = ann.lsh_bucket_topk(emb, k=3, dim=d, n_planes=8, n_tables=6)
    got = {r["neighbor_id"] for r in approx.where("query_id = 0").collect()}
    assert 1 in got  # the planted neighbor must be found


def test_ivf_topk_recall_and_determinism(spark):
    """On a clustered corpus the IVF quantizer must recover within-cluster
    neighbors; cells/output must be identical across partitioning."""
    rng = np.random.Generator(np.random.PCG64(5))
    n_clusters, per, d = 8, 25, 16
    centers = rng.standard_normal((n_clusters, d)) * 4
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + rng.standard_normal((per, d)) * 0.1
        for i, p in enumerate(pts):
            rows.append((c * per + i, (p / np.linalg.norm(p)).tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = ann.brute_force_topk(
        emb, [(0, rows[0][1]), (50, rows[50][1])], k=3
    )
    approx = ann.ivf_topk(emb, k=3, n_centroids=8, n_probe=2, sample=200)
    for qid in (0, 50):
        want = {r["neighbor_id"] for r in exact.where(f"query_id = {qid}").collect()}
        got = {r["neighbor_id"] for r in approx.where(f"query_id = {qid}").collect()}
        assert len(want & got) >= 2, (qid, want, got)  # recall@3 ≥ 2/3

    again = ann.ivf_topk(
        emb.repartition(7), k=3, n_centroids=8, n_probe=2, sample=200
    )
    a = sorted(map(tuple, approx.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b  # deterministic across partitioning


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "   "), (2, "xyzzy")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in df.select("doc_id", TA.token_count_col(F.col("text")).alias("n"), *TA.quality_metrics_cols(F.col("text"))).collect()}
    assert out[0]["n"] == 6 and out[1]["n"] == 0 and out[2]["n"] == 1
    assert out[0]["stopword_ratio"] == pytest.approx(3 / 6, abs=1e-6)
    assert out[2]["alpha_ratio"] == 1.0


def test_langid_deterministic(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house went to the park"),
            (1, "der Hund und die Katze in einem schönen Haus"),
            (2, "le chat de la maison est dans le jardin que"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    udf = TA.make_langid_udf()
    out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", udf("text").alias("lang")).collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "fr" and out[3] == "und"


def test_winnow_fingerprints_overlap():
    a = TA.winnow_fingerprints("the quick brown fox jumps over the lazy dog")
    b = TA.winnow_fingerprints("the quick brown fox jumps over the lazy cat")
    c = TA.winnow_fingerprints("completely different text with no overlap at all")
    assert len(set(a) & set(b)) > 0
    assert len(set(a) & set(c)) == 0
    assert a == TA.winnow_fingerprints("THE  quick brown fox jumps over the lazy dog".lower())


def test_media_features_plumbing(spark):
    """n_bytes / content_hash equal len / md5 of the raw bytes for NULL,
    empty, non-UTF-8 and multi-batch binary input, identically at 1 and 4
    partitions (NULL bytes count as b"")."""
    import hashlib

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    payloads = [None, b"", b"\xff\xfe\x00\x80", "caf\u00e9".encode("utf-8")]
    payloads += [bytes([i % 256]) * (i % 11) for i in range(40)]
    rows = [(i, ("image", "audio", "video")[i % 3], b) for i, b in enumerate(payloads)]
    expected = sorted(
        (i, k, len(b or b""), hashlib.md5(b or b"").hexdigest()) for i, k, b in rows
    )
    try:
        for parts in (1, 4):
            media = spark.createDataFrame(
                rows, "media_id long, kind string, bytes binary"
            ).repartition(parts)
            got = sorted(tuple(r) for r in multimodal.extract_media_features(media).collect())
            assert got == expected
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_corrupt_png_yields_null_not_task_abort(spark):
    """Bytes that PASS the PNG signature check but are corrupt inside
    (IDAT that is not zlib; short IHDR; truncated download) must never kill
    the Spark task.  Nothing decodes them any more, so there is no NULL
    output: every row is surfaced with the size and md5 of its bytes."""
    import hashlib
    import struct
    import zlib as _z

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", _z.crc32(tag + data)
        )

    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
    # 4x4 black RGB: each row is filter byte 0 + 12 zero bytes
    idat = _z.compress((b"\x00" + b"\x00" * 12) * 4)
    good = sig + ihdr + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    corrupt = [
        sig + ihdr + chunk(b"IDAT", b"\x00\x01\x02not-zlib") + chunk(b"IEND", b""),
        sig + chunk(b"IHDR", b"\x00\x00"),
        good[: len(good) // 2],
    ]
    rows = [(i, "image", blob) for i, blob in enumerate(corrupt)]
    rows.append((99, "image", good))
    df = spark.createDataFrame(rows, ["media_id", "kind", "bytes"])
    feats = {
        r["media_id"]: (r["n_bytes"], r["content_hash"])
        for r in multimodal.extract_media_features(df).collect()
    }
    assert len(feats) == len(rows)  # no task abort; every row surfaced
    for i, _, blob in rows:
        assert feats[i] == (len(blob), hashlib.md5(blob).hexdigest())


# ------------------------------------------------------------ semantic dedup

class TestSemanticDedup:
    """SemDeDup: brute-force python cross-check + invariances."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.Generator(np.random.PCG64(11))
        base = rng.standard_normal((12, 8))
        rows = []
        vid = 0
        for b in base:
            rows.append((vid, [float(x) for x in b])); vid += 1
        # near-dups of vectors 0 and 1 (tiny perturbations -> cosine ~1,
        # same side of every hyperplane with overwhelming probability)
        for src in (0, 0, 1):
            p = base[src] + rng.standard_normal(8) * 1e-3
            rows.append((vid, [float(x) for x in p])); vid += 1
        return spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()

    @staticmethod
    def _brute(rows, threshold, n_planes=4):
        """Pure-python replay of the operator's contract."""
        import numpy as np

        from entity_resolution_pipeline_spark.operators.dedup import (
            rademacher_planes,
        )

        ids = [r["vec_id"] for r in rows]
        V = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
        P = np.asarray(rademacher_planes(len(rows[0]["embedding"]), n_planes))
        bucket = {
            i: "".join(
                "1" if round(float(P[j] @ V[i]), 6) >= 0 else "0"
                for j in range(n_planes)
            )
            for i in ids
        }
        cents = {}
        for b in set(bucket.values()):
            mem = [V[i] for i in ids if bucket[i] == b]
            cents[b] = np.mean(mem, axis=0)
        cos = lambda a, b: float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))  # noqa: E731
        cent_cos = {i: round(cos(V[i], cents[bucket[i]]), 6) for i in ids}
        # edges within bucket at threshold -> union-find
        parent = {str(i): str(i) for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a in ids:
            for b in ids:
                if a < b and bucket[a] == bucket[b]:
                    if round(cos(V[a], V[b]), 6) >= threshold:
                        ra, rb = find(str(a)), find(str(b))
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
        root = {i: find(str(i)) for i in ids}
        comps = {}
        for i in ids:
            comps.setdefault(root[i], []).append(i)
        kept = {}
        for r, mem in comps.items():
            best = min(mem, key=lambda i: (cent_cos[i], i))
            for i in mem:
                kept[i] = 1 if i == best else 0
        return {
            i: (bucket[i], root[i], cent_cos[i], kept[i]) for i in ids
        }

    def test_matches_bruteforce(self, emb):
        rows = emb.collect()
        want = self._brute(rows, threshold=0.95)
        got = {
            r["vec_id"]: (r["bucket"], r["root"], r["cent_cos"], r["kept"])
            for r in dedup.semantic_dedup(emb, threshold=0.95).collect()
        }
        assert got == want

    def test_groups_and_representatives(self, emb):
        out = {r["vec_id"]: r for r in dedup.semantic_dedup(emb, threshold=0.95).collect()}
        # 15 rows in, the two perturbed copies of 0 group with 0, the one of
        # 1 groups with 1 -> 3 dropped, 12 kept
        assert len(out) == 15
        assert sum(r["kept"] for r in out.values()) == 12
        g0 = {i for i, r in out.items() if r["root"] == out[0]["root"]}
        assert g0 == {0, 12, 13}
        g1 = {i for i, r in out.items() if r["root"] == out[1]["root"]}
        assert g1 == {1, 14}
        # exactly one representative per group, the least-central member
        for g in (g0, g1):
            reps = [i for i in g if out[i]["kept"] == 1]
            assert len(reps) == 1
            assert out[reps[0]]["cent_cos"] == min(out[i]["cent_cos"] for i in g)

    def test_matmul_block_invariance(self, emb):
        """The matmul row-block is a memory knob, not a semantic one:
        shrinking it to the floor (2 clamps to 16, forcing multi-chunk
        matmuls on every bucket) must leave output bit-identical."""
        a = sorted(map(tuple, dedup.semantic_dedup(emb, threshold=0.95, matmul_block=None).collect()))
        b = sorted(map(tuple, dedup.semantic_dedup(emb, threshold=0.95, matmul_block=2).collect()))
        assert a == b

    def test_auto_planes_small_corpus_matches_explicit(self, emb):
        """n_planes='auto' on a corpus below target_bucket derives the
        floor (4 planes) — identical output to the explicit default."""
        a = sorted(map(tuple, dedup.semantic_dedup(emb, threshold=0.95, n_planes="auto").collect()))
        b = sorted(map(tuple, dedup.semantic_dedup(emb, threshold=0.95, n_planes=4).collect()))
        assert a == b

    def test_assignment_paths_agree(self, emb):
        """The interpreted-expression and Arrow (numpy V @ P.T) bucket
        assignments compute the same 6dp-rounded plane signs — full output
        parity on the duplicate-structured fixture."""
        a = sorted(map(tuple, dedup.semantic_dedup(emb, threshold=0.95, assignment="expr").collect()))
        b = sorted(map(tuple, dedup.semantic_dedup(emb, threshold=0.95, assignment="arrow").collect()))
        assert a == b

    def test_float32_precision_parity(self, emb):
        """precision='float32' halves shuffle bytes (vec is array<float>
        after assignment) but must keep the same groups on any corpus whose
        cosine margins exceed float32 rounding — here the fixture's margins
        are ~1e-2.  Buckets are computed on float64 BEFORE the cast, so the
        sharding column is bit-identical; root/kept must agree; cent_cos is
        float64 in both and may differ only in the 6th decimal."""
        a = {r["vec_id"]: r for r in dedup.semantic_dedup(emb, threshold=0.95).collect()}
        for assignment in ("expr", "arrow"):
            b = {
                r["vec_id"]: r
                for r in dedup.semantic_dedup(
                    emb, threshold=0.95, assignment=assignment, precision="float32"
                ).collect()
            }
            assert set(a) == set(b)
            for i in a:
                assert a[i]["bucket"] == b[i]["bucket"]
                assert a[i]["root"] == b[i]["root"]
                assert a[i]["kept"] == b[i]["kept"]
                assert abs(a[i]["cent_cos"] - b[i]["cent_cos"]) <= 1e-5

    def test_float32_shuffle_schema(self, emb):
        """The casted vector column actually reaches the shuffle as
        array<float> — the moved-bytes claim, pinned structurally: the
        analyzed plan's pre-kernel projection carries float elements under
        float32 in both assignment modes, double under the default."""
        # toString() hides attribute types on MapInArrow nodes; prettyJson()
        # carries every attribute's dataType in both modes
        for assignment in ("expr", "arrow"):
            plan32 = (
                dedup.semantic_dedup(
                    emb, threshold=0.95, assignment=assignment, precision="float32"
                )
                ._jdf.queryExecution()
                .analyzed()
                .prettyJson()
            )
            assert '"elementType" : "float"' in plan32
            plan64 = (
                dedup.semantic_dedup(emb, threshold=0.95, assignment=assignment)
                ._jdf.queryExecution()
                .analyzed()
                .prettyJson()
            )
            assert '"elementType" : "float"' not in plan64

    def test_precision_validation(self, emb):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            dedup.semantic_dedup(emb, threshold=0.95, precision="float16").collect()

    def test_auto_planes_derivation(self):
        """auto sizing: n_planes = max(4, ceil(log2(n / target_bucket)))."""
        import math

        for n, tb, want in ((15, 4096, 4), (4096, 4096, 4), (10**8, 4096, 15),
                            (10**12, 4096, 28), (10**6, 1024, 10)):
            got = max(4, math.ceil(math.log2(max(n, 1) / tb)))
            assert got == want
