"""Document deduplication suite for training-data pipelines.

Five dedup families, each a first-class operator over a `documents`-shaped
table (id, text) — the corpus-scale generalization of the reference's
string-level dedup (preprocessing.py:279-295) and its designed-but-missing
candidate-pair stage (SURVEY.md §3 EP3):

* exact_duplicates        — hash-groupBy on a normalized fingerprint (A1 at
                            document granularity); one shuffle, map-side
                            combined; fully SQL-oracle-checkable.
* ngram_jaccard_pairs     — exact token-shingle Jaccard via explode +
                            self-join on shared shingles + group-count
                            (set-similarity join without any UDF in the join
                            itself); oracle-checkable at small SF, and the
                            shared-shingle prefilter IS the scale path (only
                            pairs sharing ≥1 shingle are ever materialized).
* minhash_lsh_pairs       — MinHash banding blocks → candidate pairs →
                            exact-Jaccard verify; the sub-quadratic scale
                            path for 10^12 docs.
* simhash_pairs           — 64-bit SimHash, banded into 4×16-bit keys
                            (Manku et al. '07): hamming distance ≤ 3 ⇒ some
                            16-bit band matches exactly; verify by popcount.
* embedding_neardup_pairs — cosine ≥ τ over an embedding column; brute-force
                            within LSH buckets (see ann.py for the top-k
                            variant).

All pair outputs are canonical (left_id < right_id) and deterministic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import exact_fingerprint_col, make_simhash_udf


# --------------------------------------------------------------- exact dedup

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, canonical_id, dup_count) for every duplicate group with
    ≥ 2 members.  canonical_id = min id (the row a pipeline would keep)."""
    fp = docs.select(
        F.col(id_col).alias("id"), exact_fingerprint_col(F.col(text_col)).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("dup_count"))
        .where(F.col("dup_count") >= 2)
    )


def distinct_documents(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per exact-duplicate group — the
    'deduped corpus' a training pipeline feeds downstream."""
    fp = docs.withColumn("__fp", exact_fingerprint_col(F.col(text_col)))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return docs.join(keep, id_col, "left_semi")


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 1000,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """The composed training-data preparation op: Gopher/C4-style quality
    gate (token-count bounds + alphabetic ratio) AND exact-dedup
    canonicalization (keep min id per fingerprint) in one declarative plan —
    pure column exprs + one agg, no UDF, fully oracle-checkable."""
    from ..functions.text_analysis import quality_metrics_cols

    scored = docs.select(
        F.col(id_col),
        exact_fingerprint_col(F.col(text_col)).alias("__fp"),
        *quality_metrics_cols(F.col(text_col)),
    )
    passed = scored.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
    )
    keep = passed.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return passed.join(keep, id_col, "left_semi").select(
        id_col, "n_tokens", "alpha_ratio", "stopword_ratio"
    )


# ------------------------------------------------------- exact n-gram Jaccard

def _shingle_array_col(text_col: str, n: int) -> F.Column:
    """Distinct word-n-gram shingle array of a text column, pure JVM:
    split → n parallel shifted slices → arrays_zip → concat.  One O(L)
    slice per offset (n total) instead of one O(L) slice per *index* (the
    slice-inside-transform formulation is O(L²) per row and ~12× slower
    measured at sf0.1)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if n == 1:
        return F.array_distinct(toks)
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, length) for i in range(n)])
    return F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    )


def _token_shingles(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle): distinct word-n-gram shingles per doc, exploded.

    Deliberately does NOT emit a set_size column: a projection next to
    explode is evaluated once per *output* row, so size(<shingle expr>)
    there re-runs the whole shingle pipeline L times per doc (O(L²),
    measured 28 s vs 3 s at sf0.1); consumers needing sizes should project
    `_shingle_array_col` once and take F.size on the materialized array
    (ngram_jaccard_pairs) or count the exploded rows (decontaminate)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(_shingle_array_col(text_col, n)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact token-n-gram Jaccard ≥ threshold, as a set-similarity join:

    explode shingles → self-equi-join on shingle → count common shingles per
    pair → jaccard = common / (|A| + |B| − common).  Only pairs sharing at
    least one shingle are ever materialized, so cost is Σ_shingle df² — the
    standard inverted-index prefilter; skew from stop-shingles is the hot-key
    problem LSH banding (minhash_lsh_pairs) solves at corpus scale.

    The per-doc shingle ARRAY table is computed once at python-stage width
    and persisted for the duration of this plan: the inverted-index
    self-join reads it on both sides (no exchange to share when one side
    broadcasts) and the size column is one F.size over the cached array —
    previously the split/slice/zip/distinct pipeline ran three times (two
    join sides + a 12.5M-row groupBy for sizes) on however few partitions
    the corpus file happened to scan as.  Cache ownership: loop callers
    clearCache() (bench.py does).
    """
    from ..config import python_stage_width

    # eager, lineage-truncating materialization (see _minhash_feats): the
    # shingle-array table has four downstream consumers (join l/r + two
    # size attaches) whose AQE exchanges materialize concurrently — racing
    # a lazy persist's unfilled cache re-runs the split/slice/zip/distinct
    # pipeline per consumer; one eager pass fills the blocks once and
    # truncates the lineage janino compiles downstream
    arr = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col))
        .repartition(python_stage_width(docs.sparkSession))
        .select("id", _shingle_array_col(text_col, n).alias("shs"))
        .localCheckpoint(eager=True)
    )
    sh = arr.select("id", F.explode("shs").alias("shingle"))
    sizes = arr.select("id", F.size("shs").alias("sz"))
    l = sh.alias("l")
    r = sh.alias("r")
    common = (
        l.join(r, "shingle")
        .where(F.col("l.id") < F.col("r.id"))
        .groupBy(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
        )
        .agg(F.count("*").alias("common"))
        .join(sizes.toDF("left_id", "ls"), "left_id")
        .join(sizes.toDF("right_id", "rs"), "right_id")
    )
    jac = F.col("common") / (F.col("ls") + F.col("rs") - F.col("common"))
    # threshold the UNROUNDED ratio (the oracle does), round only the
    # emitted value — filtering on the rounded value would keep pairs in
    # [τ − 5e-7, τ) that the oracle drops
    return (
        common.where(jac >= threshold)
        .select("left_id", "right_id", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------- MinHash-LSH

# Default char-shingle width of the MinHash operators.  fuzzy_dedup's
# exact-duplicate pre-collapse (webtext.py) imports BOTH this constant and
# `pairable_text_predicate` so its eligibility rule can never drift from
# the kernel it mirrors (ADVICE r5 #1).
MINHASH_SHINGLE_K = 5


def pairable_text_predicate(text_col, k: int = MINHASH_SHINGLE_K):
    """Spark Column: does the text yield >= 1 k-byte shingle under
    functions.minhash.shingle_set's windowing (2-space padding, utf-8
    bytes of the lowercased text)?  octet_length(lower(text)) + 2 >= k —
    the single source of truth for LSH pairability; unpairable micro-docs
    are singletons under the LSH contract (empty shingle set, no band
    keys).  JVM lower() and Python str.lower() agree on every string this
    gate can reject (such strings are at most k-2 < 4 bytes, where the
    exotic multi-codepoint lowercasings that could diverge do not fit)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return c.isNotNull() & (F.octet_length(F.lower(c)) + 2 >= k)

def _minhash_feats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_k: int,
    bands: int,
    persist: bool = True,
) -> DataFrame:
    """Materialized per-doc MinHash feature table (id, sig, sh, ss, keys) at
    stage width — ONE text pass (make_sig_shingle_band_udf) feeds banding,
    the estimate prefilter AND the exact-verify arrays; the band keys ride
    along so no second Python stage ever touches the sig column."""
    from ..config import python_stage_width
    from ..functions.minhash import make_sig_shingle_band_udf

    ssu = make_sig_shingle_band_udf(num_hashes=num_hashes, k=shingle_k, bands=bands)
    base = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).repartition(python_stage_width(docs.sparkSession))
    out = base.select("id", ssu("text").alias("f")).select(
        "id",
        F.col("f.sig").alias("sig"),
        F.col("f.sh").alias("sh"),
        F.size("f.sh").alias("ss"),
        F.col("f.keys").alias("keys"),
    )
    if not persist:
        return out
    # EAGER, lineage-truncating materialization (localCheckpoint, not lazy
    # persist): the table has up to six downstream consumers (band explode
    # l/r, sig attach l/r, shingle attach l/r), and with AQE those
    # exchanges/broadcasts materialize CONCURRENTLY — racing on a lazy
    # persist's unfilled cache, the Arrow sig+shingle kernel was observed
    # running 6x in parallel (six identical 16-task stages in the event
    # log), 6x the CPU and a 6x-oversubscribed Python worker pool.  One
    # eager pass fills the blocks once; consumers then scan blocks, and
    # the truncated lineage also shrinks every downstream plan janino has
    # to compile.
    return out.localCheckpoint(eager=True)


def _est_floor(threshold: float, num_hashes: int) -> float:
    return max(
        threshold - 3.0 * (threshold * (1.0 - threshold) / num_hashes) ** 0.5, 0.0
    )


def _exact_jaccard(sur: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verify over estimate-gate survivors carrying
    (left_id, right_id, lsh, rsh, ls, rs): |A∩B| via the Arrow sorted-merge
    kernel (make_intersect_size_udf — the interpreted JVM array_intersect
    costs ~45 µs/pair and the division filter evaluates it twice), then the
    SAME double-division + 6dp rounding boundary as the SQL oracle.  The
    kernel is marked nondeterministic so Catalyst cannot inline its alias
    into both the filter and the final projection (a deterministic UDF
    there compiles to two ArrowEvalPython nodes, every survivor crossing
    the Arrow boundary twice) — the kernel runs exactly once per pair."""
    from ..functions.minhash import make_intersect_size_udf

    isz = make_intersect_size_udf().asNondeterministic()
    c = F.col("c").cast("double")
    jac = c / (F.col("ls") + F.col("rs") - c)
    return (
        sur.select(
            "left_id", "right_id", isz("lsh", "rsh").alias("c"), "ls", "rs"
        )
        .where(jac >= threshold)
        .select("left_id", "right_id", F.round(jac, 6).alias("jaccard"))
    )


def _verified_pairs(
    lfeats: DataFrame, rfeats: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """(left_id, right_id, jaccard ≥ threshold) from two `_minhash_feats`
    tables — ids-only band join → signature-estimate gate → shingle attach
    → exact verify.  Passing the SAME table twice is the self-join (pairs
    with left_id < right_id); two tables give the cross pairs."""
    l = lfeats.select("id", F.explode("keys").alias("key")).alias("l")
    r = rfeats.select("id", F.explode("keys").alias("key")).alias("r")
    joined = l.join(r, "key")
    if lfeats is rfeats:
        joined = joined.where(F.col("l.id") < F.col("r.id"))
    # The pair-dedup exchange is width-pinned (repartition on the
    # pair key, which dropDuplicates' clustering requirement then reuses —
    # no extra shuffle): the estimate-gate fold and the exact-verify kernel
    # downstream are pipelined onto THIS exchange's output with no further
    # shuffle, and their cost is per-ROW compute (~µs/pair), invisible to
    # AQE's byte-based coalescing, which was observed squeezing the whole
    # gate+verify chain onto 3 of 32 cores at bench scale (8 MB of slim
    # pair rows).  Same rule as the feature battery's explicit repartition
    # before its Python stage (features.py): UDF cost/row >> bytes/row.
    # The width is a FLOOR, never a cap (_pair_dedup_width): the pin
    # defeats byte-based coalescing without undercutting the configured
    # reduce width at scale; the lost map-side partial dedup costs only
    # the band-duplicate factor in shuffle bytes (measured 1.03x at
    # sf0.1; bounded by the band count).
    cands = (
        joined.select(
            F.col("l.id").alias("left_id"), F.col("r.id").alias("right_id")
        )
        .repartition(
            _pair_dedup_width(lfeats.sparkSession), "left_id", "right_id"
        )
        .dropDuplicates()
    )
    eq = F.zip_with("lsig", "rsig", lambda a, b: (a == b).cast("int"))
    est = F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(num_hashes)
    pre = (
        cands.join(lfeats.select("id", "sig").toDF("left_id", "lsig"), "left_id")
        .join(rfeats.select("id", "sig").toDF("right_id", "rsig"), "right_id")
        .where(est >= _est_floor(threshold, num_hashes))
        .select("left_id", "right_id")
    )
    j = pre.join(
        lfeats.select("id", "sh", "ss").toDF("left_id", "lsh", "ls"), "left_id"
    ).join(rfeats.select("id", "sh", "ss").toDF("right_id", "rsh", "rs"), "right_id")
    # unrounded threshold, rounded output — same boundary as the oracle
    return _exact_jaccard(j, threshold)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = MINHASH_SHINGLE_K,
    threshold: float = 0.5,
) -> DataFrame:
    """Sub-quadratic near-dup pairs, three-tier (generate → estimate → verify):

    1. **Banding**: MinHash signatures (char shingles) → band keys → block
       self-join on the key, *ids only* through the shuffle (texts/signatures
       never ride the exploded band rows — 16 band keys per doc would
       multiply shuffle bytes by 16).
    2. **Signature-estimate prefilter**: candidate pairs join their full
       signatures back (broadcast at small SF, shuffle hash join on id at
       scale) and keep only est-Jaccard = |equal positions|/H ≥ threshold −
       3σ, σ = √(τ(1−τ)/H).  On a corpus with a dense low-similarity
       background (every band collision at J≈0.2 is a candidate) this drops
       ~99% of candidates before the expensive exact verify; pairs at
       exactly J=τ are kept w.p. ≈ 0.9987 (3σ) — LSH candidate generation is
       itself probabilistic, so the estimate gate does not change the
       operator's contract.
    3. **Exact verify**: survivors join precomputed shingle-set arrays (each
       doc shingled once, not once per pair) and compute exact Jaccard as
       |A∩B| / (|A|+|B|−|A∩B|) — one Arrow sorted-merge intersect kernel
       (make_intersect_size_udf), no second pass over the text.

    Cache ownership: the per-doc feature table (signature, shingle set and
    band keys, ONE text pass — make_sig_shingle_band_udf) is materialized
    for the duration of THIS plan; it feeds the banding explode, the
    estimate prefilter, AND the exact-verify arrays, so no document is
    scanned or shingled twice.

    Measured negatives that pinned this shape: broadcasting the feature
    table for the band join and pair assembly is slower at sf0.1 (5000
    docs, 414k band candidates: 5.7 s vs 4.1 s steady — the self-join is
    CPU-bound in the gate and the exact intersect, not exchange-bound); an
    explicit 64-term GetArrayItem sum for the estimate is 4x SLOWER than
    the zip_with/aggregate fold (18.8 s vs 4.8 s — per-item bounds checks
    break the fold's single pass); broadcasting both verify sides matches
    shuffle cost exactly (4.98 vs 4.83 s) because the verify is compute-,
    not byte-, dominated at this shape; and an Arrow numpy kernel for the
    estimate gate ((L==R).sum over stacked signatures) measures 0.59-0.63 s
    vs the JVM fold's 0.51-0.81 s steady — a wash, so the fold stays (no
    Python workers on this path, and the constant Arrow cost would only
    grow with signature width).
    """
    feats = _minhash_feats(docs, id_col, text_col, num_hashes, shingle_k, bands)
    return _verified_pairs(feats, feats, num_hashes, threshold)


# -------------------------------------------------------------------- SimHash

def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming (≤ 3 with 4
    bands: pigeonhole ⇒ at least one 16-bit band equal).  Block on each of
    the 4 bands, verify with bit_count(xor) — all JVM exprs after the one
    signature UDF."""
    from ..config import python_stage_width

    sim = make_simhash_udf()
    # NULL-text docs are not pairable (NULL signature in the oracle's md5
    # chain): filter on the TEXT column before the UDF — filtering on
    # sig.isNotNull() after it gets pushed below the repartition by
    # Catalyst and evaluates the signature UDF twice per join side
    # (measured 4 ArrowEvalPython nodes in the executed plan)
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col)).where(
        F.col(text_col).isNotNull()
    ).repartition(
        python_stage_width(docs.sparkSession)  # see minhash_lsh_pairs note
    ).select("id", sim(F.col(text_col)).alias("sig"))
    # eager, lineage-truncating materialization (see _minhash_feats): the
    # band self-join reads the signature table on both sides, and with a
    # broadcast build side the two subtrees cannot share an exchange — a
    # lazy persist raced its own concurrent AQE materializations (the UDF
    # evaluated per side); one eager pass fills the blocks once
    base = base.localCheckpoint(eager=True)
    bandcols = [
        F.concat(F.lit(f"{i}:"), F.shiftright("sig", 16 * i).bitwiseAND(F.lit(0xFFFF)).cast("string")).alias("band")
        for i in range(4)
    ]
    banded = base.select("id", "sig", F.explode(F.array(*bandcols)).alias("band"))
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(r, "band")
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["left_id", "right_id"])
    )


# ------------------------------------------------------- embedding near-dup

def srp_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int | None = None,
    max_bucket_size: int | None = 5000,
    dim: int | None = None,
) -> DataFrame:
    """Scale path for cosine-threshold near-dup pairs: SRP-LSH bucket the
    corpus (ann.make_srp_bucket_udf), exact cosine within buckets only.
    Sub-quadratic shuffle on bucket keys.  When n_planes/n_tables are not
    given they are derived from the THRESHOLD via the S-curve
    (ann.srp_params_for, expected recall ≥ 0.95): high thresholds get many
    planes / few tables, low thresholds few planes / many tables — a fixed
    plane count is only correct in one regime.  Hot buckets are
    triangle-salted (blocking.salt_hot_blocks) so no join bucket exceeds
    ~2·max_bucket_size."""
    from pyspark import StorageLevel

    from ..config import BlockingConfig
    from ..operators.ann import cosine_expr, make_srp_bucket_udf, srp_params_for
    from ..operators.blocking import salt_hot_blocks, salted_pair_predicate

    if n_planes is None or n_tables is None:
        auto_k, auto_t, _ = srp_params_for(threshold)
        n_planes = n_planes if n_planes is not None else auto_k
        n_tables = n_tables if n_tables is not None else auto_t
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    srp = make_srp_bucket_udf(dim, n_planes=n_planes, n_tables=n_tables)
    v = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("bucket", F.explode(srp("vec")))
    if max_bucket_size:
        # cache ownership: lives for THIS plan; loop callers clearCache()
        v = v.persist(StorageLevel.MEMORY_AND_DISK)
        v = salt_hot_blocks(
            v, BlockingConfig(max_block_size=max_bucket_size), key_col="bucket"
        )
    l = v.alias("l")
    r = v.alias("r")
    joined = l.join(r, "bucket").where(F.col("l.id") < F.col("r.id"))
    if max_bucket_size:
        joined = joined.where(salted_pair_predicate())
    return (
        joined
        .select(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
            F.round(cosine_expr("l.vec", "r.vec"), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["left_id", "right_id"])
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    broadcast_budget_bytes: int = 2 << 30,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold — broadcast nested-loop formulation.

    All-pairs cosine is inherently O(n²); the right physical plan for a
    broadcastable corpus is to collect one normalized side as a dense
    float64 matrix and stream the other through one Arrow pass per
    partition, computing a single numpy matmul per batch (vectorized, no
    per-row work, no crossJoin shuffle of n² rows).  The guard is a MEMORY
    budget, not a row count: the matrix costs rows × dim × 8 bytes on the
    driver and per executor; when the estimate exceeds
    `broadcast_budget_bytes` (default 2 GiB) the operator automatically
    falls back to the SRP-bucketed formulation (srp_neardup_pairs) —
    same schema, sub-quadratic shuffle, no driver collect.  The fallback
    is APPROXIMATE: its LSH parameters are derived from the threshold via
    the S-curve (ann.srp_params_for) for expected recall ≥ 0.95 at the
    threshold, and the switch is surfaced with a RuntimeWarning so a
    silent exactness change is never invisible (below budget the result
    is exact).
    """
    import numpy as np

    from typing import Iterator

    from pyspark import StorageLevel
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    v = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # ONE agg job decides the path: row count AND the vector width together
    # (the former separate first() job existed only to read dim); the
    # collect below reuses the persisted input
    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    if dim is None:
        row = v.agg(
            F.count("*").alias("n"), F.first(F.size("vec")).alias("d")
        ).first()
        n = int(row["n"])
        dim = int(row["d"]) if row["d"] is not None else 0
    else:
        n = v.count()
    if n * max(dim, 1) * 8 > broadcast_budget_bytes:
        import warnings

        from ..operators.ann import srp_params_for

        v.unpersist()
        k, t, expected = srp_params_for(threshold)
        warnings.warn(
            f"embedding_neardup_pairs: {n} x {dim} float64 matrix exceeds the "
            f"{broadcast_budget_bytes}-byte broadcast budget; falling back to "
            f"SRP-LSH buckets ({k} planes x {t} tables, expected recall "
            f"{expected:.3f} at cosine >= {threshold}) — approximate, not exact",
            RuntimeWarning,
            stacklevel=2,
        )
        return srp_neardup_pairs(
            embeddings,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            n_planes=k,
            n_tables=t,
            dim=dim,
        )
    pdf = v.toPandas()
    ids = pdf["id"].to_numpy(dtype=np.int64)
    M = np.array([np.asarray(x, dtype=np.float64) for x in pdf["vec"]])
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    Mn = M / np.maximum(norms, 1e-300)  # zero vectors → cos 0, filtered by τ
    bc = v.sparkSession.sparkContext.broadcast((ids, Mn))

    schema = StructType(
        [
            StructField("left_id", LongType(), False),
            StructField("right_id", LongType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_Mn = bc.value
        for b in batches:
            if not len(b):
                continue
            bids = b["id"].to_numpy(dtype=np.int64)
            B = np.array([np.asarray(x, dtype=np.float64) for x in b["vec"]])
            Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
            sims = np.round(Bn @ all_Mn.T, 6)  # (batch, n)
            li, ri = np.nonzero(
                (sims >= threshold) & (bids[:, None] < all_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "left_id": bids[li],
                    "right_id": all_ids[ri],
                    "cosine": sims[li, ri],
                }
            )

    return v.mapInPandas(gen, schema=schema)


# ------------------------------------------------- incremental (bloom) dedup

def build_corpus_bloom(
    corpus_docs: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 23,
    fanout: int = 16,
) -> bytes | None:
    """One corpus pass → m-bit Bloom filter bytes over the exact-dedup md5
    fingerprints (k=4, indices straight from the digest — functions/
    bloom.py).  Constant executor memory: a per-partition mapInPandas
    accumulates one local filter across Arrow batches (NO corpus shuffle —
    the build is commutative/associative), a fanout-way repartition ORs
    those into <= fanout rows, and the driver ORs <= fanout byte arrays
    (fanout * m/8 bytes driver memory).  At 10^12 keys, shard the filter by
    crc32(fingerprint) % n_shards and run one probe pass per shard — same
    plan, bounded broadcast.  Returns None for an empty corpus."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from ..functions.bloom import build_bloom, merge_blooms
    from ..functions.text_analysis import exact_fingerprint_col

    corpus_fp = corpus_docs.select(
        exact_fingerprint_col(F.col(text_col)).alias("fingerprint")
    )
    bloom_schema = StructType([StructField("bloom", BinaryType(), False)])

    def _build(batches):
        acc = None
        for pdf in batches:
            # NULL text -> NULL fingerprint: a NULL never equi-joins, so the
            # naive path keeps NULL-text rows — drop NULLs from the filter to
            # preserve that semantics (they are routed to kept=1 in the probe).
            acc = build_bloom(pdf["fingerprint"].dropna(), m_bits, into=acc)
        if acc is not None:
            yield pd.DataFrame({"bloom": [acc.tobytes()]})

    def _merge(batches):
        acc = []
        for pdf in batches:
            acc.extend(pdf["bloom"])
        if acc:
            yield pd.DataFrame({"bloom": [merge_blooms(acc).tobytes()]})

    shards = corpus_fp.mapInPandas(_build, bloom_schema)
    merged = shards.repartition(fanout).mapInPandas(_merge, bloom_schema)
    parts = [r["bloom"] for r in merged.collect()]
    if not parts:
        return None
    return merge_blooms(parts).tobytes()


def flag_against_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    bloom_bytes: bytes | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 23,
) -> DataFrame:
    """(doc_id, fingerprint, kept) for every new document — kept=1 iff its
    fingerprint is absent from the corpus.  The bloom splits the snapshot
    into a bloom-NEGATIVE branch (definitely novel: kept=1 with NO join at
    all) and a bloom-POSITIVE sliver (true dups + ~FPR false positives)
    that alone reaches the exact verify join; the union is exact at any
    m_bits.  Both branches are stateless projections / stream-static joins,
    so the SAME call composes with Structured Streaming unchanged (new_docs
    streaming, corpus static) — see tests/test_bloom.py.  bloom_bytes=None
    (empty corpus) keeps everything.

    NULL text (NULL fingerprint) matches the naive-join semantics exactly:
    a NULL never equi-joins, so those rows are kept=1 and never probe the
    filter.  In batch mode the probed snapshot is persisted so the Arrow
    probe UDF runs ONCE (the two output branches share the cached rows);
    streaming keeps the stateless two-branch form (micro-batches are small
    and persist() is unavailable on a streaming plan)."""
    from ..functions.bloom import probe_bloom
    from ..functions.text_analysis import exact_fingerprint_col

    new_fp = new_docs.select(
        F.col(id_col).alias("id"),
        exact_fingerprint_col(F.col(text_col)).alias("fingerprint"),
    )
    if bloom_bytes is None:
        return new_fp.select(
            F.col("id").alias(id_col), "fingerprint", F.lit(1).alias("kept")
        )

    bc = new_docs.sparkSession.sparkContext.broadcast(bloom_bytes)

    @F.pandas_udf("boolean")
    def _probe(fp: pd.Series) -> pd.Series:
        import numpy as np

        bloom = np.frombuffer(bc.value, dtype=np.uint8)
        out = np.zeros(len(fp), dtype=bool)
        mask = fp.notna().to_numpy()
        if mask.any():
            out[mask] = probe_bloom(fp[mask], bloom, m_bits)
        return pd.Series(out)  # NULL fingerprint -> False -> kept=1, no join

    corpus_fp = corpus_docs.select(
        exact_fingerprint_col(F.col(text_col)).alias("fingerprint")
    ).dropDuplicates()
    probed = new_fp.withColumn("__pos", _probe("fingerprint"))
    if not new_docs.isStreaming:
        from pyspark import StorageLevel

        probed = probed.persist(StorageLevel.MEMORY_AND_DISK)
    novel = probed.where(~F.col("__pos")).select(
        "id", "fingerprint", F.lit(1).alias("kept")
    )
    checked = (
        probed.where(F.col("__pos"))
        .join(corpus_fp.withColumn("__hit", F.lit(1)), "fingerprint", "left")
        .select(
            "id",
            "fingerprint",
            F.when(F.col("__hit").isNull(), 1).otherwise(0).alias("kept"),
        )
    )
    return novel.unionByName(checked).select(
        F.col("id").alias(id_col), "fingerprint", "kept"
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 23,
    fanout: int = 16,
    use_bloom: bool = True,
    bloom_bytes: bytes | None = None,
) -> DataFrame:
    """Dedup a NEW crawl snapshot against an EXISTING corpus without ever
    joining new x corpus: `build_corpus_bloom` compresses the corpus
    fingerprints into an m-bit Bloom filter, `flag_against_corpus`
    broadcasts it and sends only the bloom-positive sliver of the snapshot
    into the exact verify join.  Output is EXACT regardless of m_bits; the
    bloom only prunes the verify join's input.

    Scale accounting vs the naive `new LEFT ANTI JOIN corpus`: the naive
    plan shuffles BOTH sides (100 TB corpus re-shuffled per snapshot); this
    plan reads the corpus once map-side (no shuffle — the filter build is
    commutative/associative), broadcasts m/8 bytes, and joins only the
    bloom survivors.  `use_bloom=False` degrades to the naive left join for
    A/B testing and for the DuckDB oracle argument (identical output).
    """
    from ..functions.text_analysis import exact_fingerprint_col

    if not use_bloom:
        new_fp = new_docs.select(
            F.col(id_col).alias("id"),
            exact_fingerprint_col(F.col(text_col)).alias("fingerprint"),
        )
        corpus_fp = corpus_docs.select(
            exact_fingerprint_col(F.col(text_col)).alias("fingerprint")
        ).dropDuplicates()
        return (
            new_fp.join(corpus_fp.withColumn("__hit", F.lit(1)), "fingerprint", "left")
            .select(
                F.col("id").alias(id_col),
                "fingerprint",
                F.when(F.col("__hit").isNull(), 1).otherwise(0).alias("kept"),
            )
        )

    if bloom_bytes is None:
        # `bloom_bytes`: a caller that already built the corpus filter (the
        # per-snapshot precomputable artifact — e.g. the curation chain's
        # prior-side background thread) passes it in; the build is skipped
        bloom_bytes = build_corpus_bloom(
            corpus_docs, text_col=text_col, m_bits=m_bits, fanout=fanout
        )
    return flag_against_corpus(
        new_docs, corpus_docs, bloom_bytes, id_col=id_col, text_col=text_col, m_bits=m_bits
    )


def _pair_dedup_width(spark) -> int:
    """Partition count for the width-pinned pair-dedup exchanges: the pin
    exists to FLOOR parallelism against AQE's byte-based coalescing (which
    was observed squeezing the compute-bound gate+verify chain onto 3 of
    32 cores at small shuffle sizes) — it must never CAP it below the
    session's configured reduce width, which is what the un-pinned
    exchange runs at when the shuffle is large (measured the hard way: a
    half-width pin ran the 10x fixture's 21M-candidate verify at 16 of 32
    cores, 255 s vs ~128 s).  Hence: max(configured shuffle partitions,
    python stage width) — scale deployments set shuffle.partitions in the
    thousands and keep full verify parallelism."""
    from ..config import python_stage_width

    try:
        conf_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        conf_w = 0
    return max(conf_w, python_stage_width(spark))


_ARTIFACT_UNSET = object()  # sentinel: corpus_artifact not supplied

# Corpus-side byte budget of the fuzzy flagging operator's broadcast kernel;
# a corpus whose estimated artifact exceeds it takes the pair fallback.
FUZZY_BROADCAST_BUDGET_MB = 256


def build_fuzzy_corpus_artifact(
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = MINHASH_SHINGLE_K,
):
    """The corpus side of `fuzzy_flags_against_corpus` as a standalone,
    PRECOMPUTABLE per-snapshot artifact: budget probe + feature collect +
    the packed numpy structures the broadcast kernel consumes.  Returns
    None when the corpus exceeds FUZZY_BROADCAST_BUDGET_MB (caller falls
    back to the tiered pair path).  Factored out so pipelines whose corpus side
    is ready early (the curation chain's prior-snapshot thread) can build
    it OFF the critical path — exactly the 'signatures/bands/shingles are
    the per-snapshot artifact' shape the operator docstring promises."""
    import numpy as np

    # measured over lower(text) because shingle_set lowercases first and
    # a few Unicode lowercasings GROW the utf-8 byte length (U+0130 ->
    # 'i' + U+0307), which would undercut the "never more" bound
    stat = corpus_docs.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.octet_length(F.lower(F.col(text_col)))), F.lit(0)
        ).alias("len"),
    ).first()
    # 4 B per uint32 signature slot and per int32 shingle (the packed
    # arrays below), ~96 B id + object overhead and ~50 B per band-bucket
    # entry per row; x2 headroom
    est = 2 * (
        stat["n"] * (4 * num_hashes + 96 + 50 * bands)
        + 4 * (stat["len"] + 2 * stat["n"])
    )
    if est > FUZZY_BROADCAST_BUDGET_MB * (1 << 20):
        return None

    rfeats = _minhash_feats(
        corpus_docs, id_col, text_col, num_hashes, shingle_k, bands, persist=False
    )
    rows = rfeats.select("sig", "sh", "ss", "keys").collect()
    # Signatures are stored uint32-TRUNCATED: the estimate gate tests only
    # slot EQUALITY, truncation preserves every true equality, and a false
    # 32-bit agreement (p = 2^-32/slot) can only nudge the estimate UP —
    # the gate is a prefilter, the exact-Jaccard verify decides membership.
    # Halving signature bytes halves the gate's memory traffic, which is
    # the measured scaling bottleneck of this kernel (raw-multiprocessing
    # envelope 0.767 at 8->32 procs on one socket, BENCH/fuzzy_profile).
    SIGS = (
        np.array([r["sig"] for r in rows], dtype=np.int64).astype(np.uint32)
        if rows
        else np.empty((0, num_hashes), dtype=np.uint32)
    )
    # int32 shingle arrays (values are mod p = 2³¹−1 — exact): halves the
    # broadcast payload and the verify probe's memory traffic, the same
    # bandwidth argument as the uint32 signature truncation above, and
    # matches the int32 `sh` column type so no per-row upcast happens
    SH = [np.asarray(r["sh"], dtype=np.int32) for r in rows]
    RS = np.array([r["ss"] for r in rows], dtype=np.int64)
    buckets: dict[str, list[int]] = {}
    for i, r in enumerate(rows):
        for bkey in r["keys"]:
            buckets.setdefault(bkey, []).append(i)
    packed = {k: np.array(v, dtype=np.intp) for k, v in buckets.items()}
    return SIGS, SH, RS, packed


def fuzzy_flags_against_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = MINHASH_SHINGLE_K,
    threshold: float = 0.5,
    corpus_artifact=_ARTIFACT_UNSET,
) -> DataFrame:
    """(id, n_corpus_matches, kept) for every NEW document: how many
    corpus documents are MinHash-near (band-collision candidate, estimate
    gate, exact Jaccard >= threshold), kept = 1 iff none are.  Both paths
    below share one candidate set, gate floor and exact-Jaccard boundary,
    so they agree row-for-row; the broadcast path never materializes the
    pair table.

    Why a dedicated operator: on a self-similar crawl the pair table is
    the whole cost.  Measured at the 8-replica curation-scaling corpus
    (19k new x 3.4k corpus docs): 9.2M band candidates -> 8.7M gate
    survivors -> 6.75M qualifying pairs, so the pair path ships ~35 GB of
    per-pair shingle arrays into the verify stage just to count them.
    Here, when the corpus feature table fits FUZZY_BROADCAST_BUDGET_MB (the
    per-snapshot precomputable artifact: signatures, shingle sets, band
    keys), the ENTIRE match count runs inside ONE fused mapInPandas pass
    over the new side's RAW text with the corpus broadcast: per batch,
    shingle + sign + band (the same kernels `_minhash_feats` wires), then
    per document band buckets -> unique candidate ids (the pair path's
    dropDuplicates), a vectorized signature-agreement gate (identical
    floor arithmetic), and the sorted-merge exact intersect for
    survivors.  Zero pair rows and zero feature shuffles (the plan's one
    Exchange is the round-robin stage-width repartition of the new side's
    slim (id, text) rows), a single Python stage
    (the earlier two-stage form paid a second Arrow round-trip shipping
    the new side's feature structs JVM->Python again); bytes moved = one
    corpus broadcast + one pass over the new side.

    The cutover itself costs one COLUMNAR agg over the raw corpus text —
    no Python pass, no persist: distinct k-shingles per document are
    bounded by the padded utf-8 byte length, so
    `sum(octet_length(text)) + 2n` upper-bounds the 4 B/shingle term and
    the estimate is conservative (repetitive text broadcasts less than
    estimated, never more).  Over budget — or with corpus_artifact=None —
    it falls back to the pair-materializing path (`_verified_pairs` cross
    pairs, count + left join), which remains the 10^12-doc shuffle shape.
    """
    import numpy as np

    # corpus_artifact: prebuilt by build_fuzzy_corpus_artifact (possibly on
    # a background thread — the curation chain's prior side), or unset, in
    # which case it is built here; None means over-budget → fallback path
    if corpus_artifact is _ARTIFACT_UNSET:
        corpus_artifact = build_fuzzy_corpus_artifact(
            corpus_docs,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
        )
    if corpus_artifact is None:
        lfeats = _minhash_feats(
            new_docs, id_col, text_col, num_hashes, shingle_k, bands, persist=False
        )
        rfeats = _minhash_feats(
            corpus_docs, id_col, text_col, num_hashes, shingle_k, bands
        )
        pairs = _verified_pairs(lfeats.persist(), rfeats, num_hashes, threshold)
        counts = pairs.groupBy("left_id").agg(
            F.count("*").cast("long").alias("n_corpus_matches")
        )
        ids = new_docs.select(F.col(id_col).alias("left_id"))
        return ids.join(counts, "left_id", "left").select(
            F.col("left_id").alias(id_col),
            F.coalesce("n_corpus_matches", F.lit(0)).alias("n_corpus_matches"),
            F.when(F.col("n_corpus_matches").isNull(), 1)
            .otherwise(0)
            .alias("kept"),
        )

    bc = new_docs.sparkSession.sparkContext.broadcast(corpus_artifact)
    floor = _est_floor(threshold, num_hashes)
    id_type = dict(new_docs.dtypes)[id_col]

    from ..config import python_stage_width
    from ..functions.minhash import (
        _coeffs,
        _sigs_batched,
        band_keys,
        shingle_set,
    )

    ca, cb = _coeffs(num_hashes)

    def kernel(batches):
        sigs_m, sh_l, rs_v, bkt = bc.value
        denom = float(num_hashes)
        for pdf in batches:
            # same shingle/signature/band kernels _minhash_feats wires, run
            # in-place so the new side's features never round-trip to the JVM
            sets = [
                shingle_set(t, shingle_k) if t else np.empty(0, dtype=np.uint64)
                for t in pdf["text"]
            ]
            sigs = _sigs_batched(sets, ca, cb, num_hashes)
            ids, ns = [], []
            for _id, sig, sh_u in zip(pdf["id"], sigs, sets):
                n = 0
                sig_a = np.asarray(sig, dtype=np.int64)
                keys = band_keys(sig_a, bands)
                sig32 = sig_a.astype(np.uint32)  # match the truncated matrix
                hits = [bkt[k] for k in keys if k in bkt]
                if hits:
                    rids = np.unique(np.concatenate(hits))
                    est = (sigs_m[rids] == sig32[None, :]).sum(axis=1) / denom
                    sur = rids[est >= floor]
                    if len(sur):
                        # one vectorized membership probe for ALL survivor
                        # corpus sets at once: probe each corpus element
                        # into this doc's sorted-distinct shingle array and
                        # segment-sum the hit mask (np.add.reduceat) —
                        # exactly Σ sorted_intersect_size per survivor, one
                        # searchsorted instead of one numpy call per pair.
                        # int32 to match the corpus SH dtype (exact: values
                        # are mod p = 2³¹−1) — same-dtype searchsorted, no
                        # upcast copy of the concatenated survivor sets
                        a = sh_u.astype(np.int32)
                        la = len(a)
                        lens = rs_v[sur]
                        flat = np.concatenate([sh_l[ri] for ri in sur])
                        idx = np.searchsorted(a, flat)
                        np.clip(idx, 0, la - 1, out=idx)
                        mask = a[idx] == flat
                        offs = np.zeros(len(sur), dtype=np.intp)
                        np.cumsum(lens[:-1], out=offs[1:])
                        cs = np.add.reduceat(mask, offs)
                        jac = cs / (la + lens - cs)
                        n = int(np.count_nonzero(jac >= threshold))
                ids.append(_id)
                ns.append(n)
            yield pd.DataFrame({id_col: ids, "n_corpus_matches": ns})

    out = (
        new_docs.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
        .repartition(python_stage_width(new_docs.sparkSession))
        .mapInPandas(kernel, schema=f"{id_col} {id_type}, n_corpus_matches long")
    )
    return out.select(
        id_col,
        F.col("n_corpus_matches").cast("long").alias("n_corpus_matches"),
        F.when(F.col("n_corpus_matches") == 0, 1).otherwise(0).alias("kept"),
    )


# ------------------------------------------------- semantic (SemDeDup) dedup

def rademacher_planes(
    dim: int, n_planes: int, seed: str = "semdedup"
) -> list[list[float]]:
    """Deterministic ±1 projection hyperplanes from md5(seed:j:i).

    Engine-portable by construction: the DuckDB oracle regenerates the
    IDENTICAL matrix from the same Python call and embeds it as a VALUES
    table (the quality_classifier weight-table pattern), so the cluster
    assignment — not just the within-cluster arithmetic — is
    value-checkable.  Rademacher entries lose nothing vs Gaussian for sign
    projections (Achlioptas 2001) and keep every dot product exactly
    representable as a sum of ±v[i]."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | str = "auto",
    seed: str = "semdedup",
    dim: int | None = None,
    matmul_block: int | None = 1024,
    target_bucket: int = 4096,
    assignment: str = "auto",
    precision: str = "float64",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic deduplication, LSH-sharded.

    The paper clusters embeddings with k-means, thresholds pairwise cosine
    WITHIN each cluster, and keeps — per duplicate group — the example
    LEAST similar to its cluster centroid (retaining the periphery, pruning
    the redundant core).  This operator keeps those exact within-cluster
    semantics but replaces the k-means quantizer with deterministic
    sign-random-projection sharding (rademacher_planes): bucket =
    concat_j[sign(v·p_j)].  At 10^12 docs that swap is what makes the plan
    shuffle-safe — no iterative centroid fitting, no driver state, bucket
    assignment is a pure column expression, and n_planes tunes shard size
    (each plane halves the expected bucket ≈ n/2^planes).  Near-duplicate
    pairs straddling a bucket boundary are missed — the same recall
    tradeoff the paper accepts across k-means cell boundaries.

    BUCKET SIZE is bounded ONLY by n_planes sizing — nothing inside the
    operator caps or salts a hot bucket, and a bucket of n_b vectors costs
    O(n_b²) cosine work on the one worker it lands on.  The default
    n_planes="auto" therefore derives the plane count from a corpus count
    (one cheap agg, the only extra job): n_planes = max(4, ceil(log2(n /
    target_bucket))), i.e. expected bucket ≈ target_bucket (default 4096
    ≈ the paper's ~n/10k k-means cell at its 100M scale, and small enough
    that a worst-case 10×-expected hot bucket is still sub-second of
    matmul).  Pass an explicit int to pin the assignment (the contract
    query does, so its DuckDB oracle can replay the identical planes).

    Physical plan — deliberately TWO stages total: one projection for
    bucket assignment, then ONE
    groupBy(bucket)-applyInArrow stage (the vec
    column crosses Arrow→numpy as one zero-copy flatten + gather, not a
    per-row Series materialization) that computes the paper's ENTIRE
    per-cluster semantics vectorized in numpy — centroid (mean), centroid
    cosine, blocked pairwise-cosine matmul, min-label-propagation
    connected components (duplicate groups are threshold-cliques, diameter
    ~1 → ~2 scatter passes), and the keep-least-central representative —
    emitting the final rows directly.  Everything after the single bucket
    shuffle is bucket-local because components and representatives are
    provably bucket-confined (every doc has exactly ONE bucket, so every
    edge incident to it lives there).  No second shuffle, no persist, no
    join-backs, no per-pair or per-row Python, no interpreted
    higher-order-function cosine (measured ~16 µs/pair — the reason this
    is NOT a cosine_expr self-join).  `matmul_block` (clamped to
    [16, 1024]) is the row-block of the pairwise matmul: each worker holds
    ≤ block × n_bucket cosines — flat MEMORY at any bucket size.  It does
    NOT bound bucket COMPUTE; n_planes sizing is the only lever for that
    (see the bucket-size paragraph above).

    Returns one row per input vector:
      (id_col: long, bucket: string, root: string, cent_cos: double,
       kept: int)
    root is the string-min member of the duplicate component (the CC
    convention shared with the recursive-CTE oracle); singletons are their
    own root with kept=1; ties on cent_cos break toward the smaller id.

    Fixture note: the synthetic embeddings are near-orthogonal (max
    pairwise cosine ≈ 0.51), so the sf-scale contract query runs
    threshold=0.30 to exercise group formation; production text embeddings
    use ≥ 0.9.

    ``precision="float32"`` (opt-in; default float64 keeps the DuckDB
    oracle value-exact) halves the bytes the ONE shuffle moves — the
    measured non-scaling floor of this operator on a single box, and the
    network+spill bill at cluster scale — by casting the vector column to
    float32 AFTER bucket assignment (buckets are always computed on the
    float64 input, so sharding is precision-invariant) and running the
    per-bucket kernel in float32 (sgemm: 2× dgemm throughput, half the
    matmul memory traffic).  Semantics: a pair flips in/out of a duplicate
    group only if its true cosine sits within float32 rounding (~1e-7
    relative) of the threshold — far tighter than the embedding noise on
    any real corpus; cent_cos is still emitted as float64 after 6-dp
    rounding.  Measured on the 500k × dim-512 scaling corpus: identical
    xxhash64 fingerprints over (id, bucket, root, kept) vs float64
    (kept = 40,186 under both precisions).
    """
    import math

    import numpy as np

    if precision not in ("float64", "float32"):
        raise ValueError(f"precision must be float64|float32, got {precision!r}")
    np_dtype = np.float32 if precision == "float32" else np.float64
    vec_sql = "array<float>" if precision == "float32" else "array<double>"
    # float32 min normal ~1.2e-38: the float64 guard 1e-300 underflows to 0
    tiny = 1e-30 if precision == "float32" else 1e-300

    if dim is None:
        first = embeddings.select(vec_col).first()
        dim = len(first[0]) if first else 0
    if n_planes == "auto":
        n = embeddings.count()
        n_planes = max(4, math.ceil(math.log2(max(n, 1) / target_bucket)))
    planes = rademacher_planes(dim, int(n_planes), seed)

    # Two assignment paths, identical semantics (sign of the plane dot,
    # rounded 6 dp before the test):
    #   "expr"  — pure JVM column expressions.  ±1 planes admit a cheaper
    #     dot than a zip_with fold: v·p = 2·Σ_{i∈S}v[i] − Σv[i] where
    #     S = {i : p[i] = +1} (measured 2.1× faster than the fold).  Zero
    #     Python, but Spark evaluates higher-order lambdas INTERPRETED —
    #     measured ~0.4 ms/row/core at dim 512 × 10 planes, which makes
    #     assignment (not the cosine kernel) the bottleneck at production
    #     embedding widths.
    #   "arrow" — one mapInArrow stage computing signs of V @ P.T in
    #     numpy (planes ride the closure; BLAS batch dot ~µs/row at dim
    #     1536).  mapInArrow, NOT mapInPandas: the vector column passes
    #     through as the INPUT Arrow buffer untouched (zero-copy in via
    #     ListArray.flatten().to_numpy(), zero-copy out by re-emitting the
    #     input arrays) — the pandas variant re-serializes every vector
    #     Python→Arrow on the way back, measured as ~70% of the map-stage
    #     wall at dim 512.  Same 6-dp rounding; fp disagreement with the
    #     expr path requires a plane dot within ~1e-13 of a 6-dp boundary
    #     (the residual risk already documented for the DuckDB oracle).
    # "auto" picks expr up to dim 128 (keeps the oracle-pinned contract
    # query byte-stable and UDF-free) and arrow above it.
    if assignment == "auto":
        assignment = "expr" if dim <= 128 else "arrow"
    if assignment == "expr":
        total = F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x)

        def _plane_dot(p: list[float]) -> F.Column:
            sel = F.array(*[F.lit(i) for i, s in enumerate(p) if s > 0])
            ssum = F.aggregate(
                F.transform(sel, lambda i: F.col("vec")[i]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return 2.0 * ssum - F.col("__tot")

        bucket = F.concat(
            *[
                F.when(F.round(_plane_dot(p), 6) >= 0, F.lit("1")).otherwise(
                    F.lit("0")
                )
                for p in planes
            ]
        ).alias("bucket")
        v = (
            embeddings.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("vec"),
            )
            .withColumn("__tot", total)
            .select("id", F.col("vec").cast(vec_sql).alias("vec"), bucket)
        )
    elif assignment == "arrow":
        P = np.asarray(planes, dtype=np.float64)
        n_pl = len(planes)

        def _assign(batches):
            import pyarrow as pa

            for rb in batches:
                if rb.num_rows == 0:
                    continue
                vec = rb.column(rb.schema.get_field_index("vec"))
                V = vec.flatten().to_numpy(zero_copy_only=False).reshape(
                    rb.num_rows, -1
                )
                bits = np.round(V @ P.T, 6) >= 0
                codes = bits @ (1 << np.arange(n_pl - 1, -1, -1, dtype=np.int64))
                buckets = pa.array(
                    [format(c, f"0{n_pl}b") for c in codes.tolist()],
                    pa.string(),
                )
                out_vec = (
                    rb.column(1)
                    if precision == "float64"
                    else rb.column(1).cast(pa.list_(pa.float32()))
                )
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0), out_vec, buckets],
                    ["id", "vec", "bucket"],
                )
        v = embeddings.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ).mapInArrow(_assign, schema=f"id long, vec {vec_sql}, bucket string")
    else:
        raise ValueError(f"assignment must be auto|expr|arrow, got {assignment!r}")

    blk = max(min(int(matmul_block or 1024), 1024), 16)

    def _core(ids, sids, V):
        """Per-bucket SemDeDup numpy core over STRING-SORTED (ids, sids, V).

        Returns (cent_cos, root, kept).
        """
        n = len(ids)
        # centroid + centroid cosine (the oracle replays avg + cosine in SQL)
        C = V.mean(axis=0)
        cn = float(np.linalg.norm(C))
        vn = np.linalg.norm(V, axis=1)
        cent_cos = np.round(
            ((V @ C) / np.maximum(vn * cn, tiny)).astype(np.float64), 6
        )
        Vn = V / np.maximum(vn[:, None], np_dtype(tiny))
        cols = np.arange(n)
        lis, ris = [], []
        # one reused matmul buffer (no per-chunk allocation), and the 6-dp
        # parity rounding applied ONLY to candidate entries: rounding the
        # whole S matrix costs a full extra copy per chunk — measured as
        # tens of GB of pure memory traffic at 10^6 vectors, the difference
        # between a compute-bound and a bandwidth-bound kernel.  The
        # pre-filter at threshold − 1e-6 over-collects by a hair; the exact
        # round-then-compare decides membership, so output is unchanged.
        S_buf = np.empty((min(blk, n), n), dtype=np_dtype)
        for a in range(0, n, blk):
            b = min(a + blk, n)
            S = S_buf[: b - a]
            np.matmul(Vn[a:b], Vn.T, out=S)
            ci, cj = np.nonzero(
                (S >= threshold - 1e-6) & (cols[a:b, None] < cols)
            )
            if len(ci):
                keepm = np.round(S[ci, cj], 6) >= threshold
                li, ri = ci[keepm], cj[keepm]
                if len(li):
                    lis.append(li + a)
                    ris.append(ri)
        root = sids.copy()
        kept = np.ones(n, dtype="int32")
        if lis:
            li = np.concatenate(lis)
            ri = np.concatenate(ris)
            label = cols.copy()
            while True:
                nl = label.copy()
                np.minimum.at(nl, li, label[ri])
                np.minimum.at(nl, ri, label[li])
                nl = nl[nl]  # pointer jumping compresses chains
                if np.array_equal(nl, label):
                    break
                label = nl
            touched = np.zeros(n, dtype=bool)
            touched[li] = True
            touched[ri] = True
            root = np.where(touched, sids[label], sids)
            # keep-least-central: per component, min by (cent_cos, id) —
            # lexsort then first index per label among touched members
            kept = np.zeros(n, dtype="int32")
            kept[~touched] = 1
            tidx = np.nonzero(touched)[0]
            o2 = tidx[np.lexsort((ids[tidx], cent_cos[tidx]))]
            seen: set = set()
            for i in o2:
                lab = label[i]
                if lab not in seen:
                    seen.add(lab)
                    kept[i] = 1
        return cent_cos, root, kept

    def _bucket_semdedup_arrow(key, table):
        # Arrow-native group kernel: the vec column arrives as ONE
        # contiguous values buffer (ListArray.flatten() → zero-copy numpy
        # → reshape), so corpus bytes cross Arrow→numpy with a single
        # vectorized gather instead of applyInPandas' per-row
        # Series-of-ndarray materialization + np.stack Python loop —
        # measured ~2.4× on the kernel stage at 500k × dim 512 (the
        # np.stack path was charged 2.9-5.1 s in the r3 floor
        # decomposition).  ids.astype("U") replaces the per-row str() map
        # (identical decimal strings, vectorized).
        import pyarrow as pa

        ids = table.column("id").combine_chunks().to_numpy(zero_copy_only=True)
        sids = ids.astype("U")
        order = np.argsort(sids)  # STRING order: index-min == string-min root
        ids = ids[order]
        sids = sids[order]
        flat = (
            table.column("vec")
            .combine_chunks()
            .flatten()
            .to_numpy(zero_copy_only=True)
        )
        V = flat.reshape(len(order), -1)[order]
        if V.dtype != np_dtype:
            V = V.astype(np_dtype)
        cent_cos, root, kept = _core(ids, sids, V)
        n = len(ids)
        return pa.table(
            {
                "id": pa.array(ids),
                "bucket": pa.array([key[0].as_py()] * n, pa.string()),
                "root": pa.array(root),
                "cent_cos": pa.array(cent_cos),
                "kept": pa.array(kept),
            }
        )

    # width-pinned bucket exchange: the per-bucket kernel is compute-bound
    # (matmul + CC per group), invisible to AQE's byte-based coalescing,
    # which at small shuffle sizes squeezes every bucket onto 1-2 tasks
    # (same rule as the verify-chain repartition in minhash_lsh_pairs);
    # repartition on the grouping key satisfies groupBy's clustering
    # requirement, so this pins width without an extra exchange
    from ..config import python_stage_width as _psw_sd

    grouped = v.repartition(
        _psw_sd(embeddings.sparkSession), "bucket"
    ).groupBy("bucket")
    out = grouped.applyInArrow(
        _bucket_semdedup_arrow,
        schema="id long, bucket string, root string, cent_cos double, kept int",
    )
    return out.select(
        F.col("id").alias(id_col), "bucket", "root", "cent_cos", "kept"
    )


def semantic_dedup_multitable(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: str = "semdedup",
    dim: int | None = None,
    matmul_block: int = 1024,
) -> DataFrame:
    """Multi-table SemDeDup: the cross-bucket-recall remedy for
    `semantic_dedup`'s single sign-projection sharding.

    Single-table SRP misses every near-dup pair whose members straddle a
    bucket boundary: P(same bucket) = (1 - theta/pi)^p decays with the
    plane count, and because "auto" sizing holds bucket ROWS constant the
    plane count — and so the miss rate — GROWS with corpus size (measured
    in BENCH/semdedup_recall.json: 0.72 at 4 planes -> 0.51 at 8 for
    cosine-0.97 twins).  The standard LSH fix: R independent plane seeds,
    a pair is caught if it co-buckets in ANY table — recall 1-(1-r)^R for
    R× the bucketing work.

    Spark shape (each stage is the scale-safe form of its job):
      1. ONE mapInArrow pass computes all R bucket codes per vector
         (one V @ P.T for the concatenated plane matrix) and explodes to
         (id, vec, "t<i>:<code>") rows — R× the corpus through the one
         shuffle, the honest cost of R tables.
      2. ONE groupBy(bucket) applyInPandas stage emits threshold EDGES
         (blocked matmul, same 6-dp round-then-compare boundary as
         `semantic_dedup`), deduplicated across tables — edge volume is
         near-dup pairs, not corpus.
      3. Distributed `connected_components` unions the per-table pair
         sets into exact duplicate components (this is where cross-table
         transitivity is resolved — the step the bucket-confined
         single-table operator never needs).
      4. Components are re-joined to their vectors and a per-component
         kernel keeps the member LEAST similar to the COMPONENT centroid
         (ties toward smaller id) — the paper's keep-the-periphery rule
         with the component standing in for the k-means cluster.
         Components are near-cliques of duplicates (tiny), so the
         groupBy(root) stage is bounded.  Singletons never ship a vector
         through stages 3-4: an id-only anti-join marks them kept=1 with
         cent_cos=1.0 (their component centroid is themselves).

    Returns (id_col, root: string, cent_cos: double, kept: int); exact
    within its recalled pair set, deterministic at any parallelism.
    """
    import numpy as np

    from .cluster import connected_components

    if dim is None:
        first = embeddings.select(vec_col).first()
        dim = len(first[0]) if first else 0
    P = np.concatenate(
        [
            np.asarray(
                rademacher_planes(dim, int(n_planes), f"{seed}:t{t}"),
                dtype=np.float64,
            )
            for t in range(int(n_tables))
        ]
    )
    n_pl, n_tab = int(n_planes), int(n_tables)
    blk = max(min(int(matmul_block or 1024), 1024), 16)

    def _assign(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec = rb.column(rb.schema.get_field_index("vec"))
            V = vec.flatten().to_numpy(zero_copy_only=False).reshape(
                rb.num_rows, -1
            )
            bits = np.round(V @ P.T, 6) >= 0
            w = 1 << np.arange(n_pl - 1, -1, -1, dtype=np.int64)
            for t in range(n_tab):
                codes = bits[:, t * n_pl: (t + 1) * n_pl] @ w
                buckets = pa.array(
                    [f"t{t}:{c:0{n_pl}b}" for c in codes.tolist()], pa.string()
                )
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0), rb.column(1), buckets],
                    ["id", "vec", "bucket"],
                )

    v = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).mapInArrow(_assign, schema="id long, vec array<double>, bucket string")

    def _bucket_edges(key, pdf):
        ids = pdf["id"].to_numpy(dtype="int64")
        sids = ids.astype("U")
        order = np.argsort(sids)
        sids = sids[order]
        V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["vec"]])[order]
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        n = len(sids)
        cols = np.arange(n)
        srcs, dsts = [], []
        S_buf = np.empty((min(blk, n), n), dtype=np.float64)
        for a in range(0, n, blk):
            b = min(a + blk, n)
            S = S_buf[: b - a]
            np.matmul(Vn[a:b], Vn.T, out=S)
            ci, cj = np.nonzero(
                (S >= threshold - 1e-6) & (cols[a:b, None] < cols)
            )
            if len(ci):
                keepm = np.round(S[ci, cj], 6) >= threshold
                li, ri = ci[keepm] + a, cj[keepm]
                srcs.extend(sids[li])
                dsts.extend(sids[ri])
        return pd.DataFrame({"src": srcs, "dst": dsts})

    # width-pinned bucket exchange (compute-bound per-bucket kernel — see
    # the semantic_dedup note); repartition on the key adds no exchange
    from ..config import python_stage_width as _psw_mt

    width = _psw_mt(embeddings.sparkSession)
    edges = (
        v.repartition(width, "bucket")
        .groupBy("bucket")
        .applyInPandas(_bucket_edges, schema="src string, dst string")
        .dropDuplicates(["src", "dst"])
    )
    cc = connected_components(edges)  # (entity_id, root), both string

    svec = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("entity_id", F.col("id").cast("string"))
    # no broadcast hint: the non-singleton node set scales with the dup
    # rate, so let AQE pick the join strategy from the runtime size
    members = svec.join(cc, "entity_id")

    def _component_rep(key, pdf):
        ids = pdf["id"].to_numpy(dtype="int64")
        order = np.argsort(ids)
        ids = ids[order]
        V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["vec"]])[order]
        C = V.mean(axis=0)
        cn = float(np.linalg.norm(C))
        vn = np.linalg.norm(V, axis=1)
        cent_cos = np.round((V @ C) / np.maximum(vn * cn, 1e-300), 6)
        kept = np.zeros(len(ids), dtype="int32")
        kept[np.lexsort((ids, cent_cos))[0]] = 1
        return pd.DataFrame(
            {"id": ids, "root": key[0], "cent_cos": cent_cos, "kept": kept}
        )

    dup_rows = members.repartition(width, "root").groupBy("root").applyInPandas(
        _component_rep, schema="id long, root string, cent_cos double, kept int"
    )
    singles = svec.join(cc.select("entity_id"), "entity_id", "left_anti").select(
        "id",
        F.col("entity_id").alias("root"),
        F.lit(1.0).alias("cent_cos"),
        F.lit(1).alias("kept"),
    )
    return dup_rows.unionByName(singles).select(
        F.col("id").alias(id_col), "root", "cent_cos", "kept"
    )
