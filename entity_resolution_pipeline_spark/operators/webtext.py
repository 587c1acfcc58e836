"""Webtext corpus-curation operators: the filter/score/dedup battery a
large-scale LLM training-data pipeline runs over raw web documents.

The reference engine (yalelibrary-metadata-services/entity_resolution_pipeline)
stops at record linkage; a 100 TB webtext corpus additionally needs the
standard curation stack published in the Gopher (Rae et al. 2021, §A1.1),
C4 (Raffel et al. 2020, §2.2) and CCNet (Wenzek et al. 2020) pipelines:

* `gopher_quality`      — per-document rule battery (word-count bounds,
                          mean word length, stopword presence, alphabetic
                          ratio), pure JVM column expressions.
* `repetition_metrics`  — Gopher repetition signals: fraction of characters
                          covered by the most frequent word n-gram and by
                          duplicated word n-grams.
* `unigram_logprob`     — CCNet-style language-model filter, reduced to the
                          corpus' own unigram distribution: mean ln P(word)
                          per document (no external model ships here; the
                          distributed shape — count, broadcast, score — is
                          identical with a real LM table).
* `fuzzy_dedup`         — end-to-end MinHash near-dup removal as run by
                          Dolma/RedPajama: LSH pairs → connected components
                          → keep the minimum id per duplicate cluster.
* `canonical_url` /
  `latest_capture`      — cross-snapshot capture dedup: pure-JVM URL
                          canonicalization + keep-latest-per-key via one
                          hash-agg max_by (no window).
* `dedup_lines`         — RefinedWeb/CCNet line-level boilerplate removal:
                          corpus line-frequency filter with ordered
                          reassembly.
* `lm_quality_buckets`  — CCNet head/middle/tail split by LM-score
                          percentile; cut points via one 1-row percentile
                          agg + broadcast (no global sort).
* `remove_dup_spans`    — exact-substring dedup (Lee et al. 2021,
                          "Deduplicating Training Data Makes Language
                          Models Better"), re-expressed relationally:
                          corpus-frequent k-token spans located by one
                          gram-hash count + semi-join, excised in-place.
* `host_of` /
  `blocklist_filter`    — C4-style URL blocklist: host extraction + parent-
                          domain suffix matching, pure JVM expressions.
* `badwords_filter`     — C4 §2.2 "bad word" page filter: token-membership
                          flag + occurrence count, shuffle-free.
* `curation_funnel`     — the composed pipeline as one plan, reported as
                          the per-stage survival funnel the curation papers
                          publish (RefinedWeb Fig. 2).
* `bigram_logprob`      — Jelinek-Mercer interpolated bigram LM perplexity
                          (the CCNet KenLM slot, one order up from
                          `unigram_logprob`): train and score in one
                          lineage, LM table broadcast.
* `quality_classifier_scores`
                        — DCLM/LLaMA model-based quality filter: fastText-
                          shaped hashed uni+bigram linear classifier
                          (functions/quality_model.py); default scoring is
                          ONE shuffle-free projection (weight array literal
                          + higher-order aggregate fold), with a broadcast-
                          join path for big models.
* `html_to_text`        — WET-style HTML → text extraction: script/style/
                          comment excision, block tags to newlines, tag
                          strip, entity unescape, whitespace normalization;
                          one shuffle-free projection, Java-regex/RE2-
                          identical patterns.
* `incremental_fuzzy_dedup`
                        — cross-snapshot NEAR-dup flagging: new docs
                          MinHash-banded against the existing corpus only
                          (dedup.fuzzy_flags_against_corpus), exact-
                          verified, one count per new doc.
* `heavy_hitter_words`  — sketch-then-verify heavy hitters: distributed
                          Misra-Gries (`freqItems`, O(1/support) state, no
                          vocabulary shuffle) proposes candidates, one
                          candidate-only count makes the output exact.

Scale notes (100 TB): every op is one or two shuffles on uniform keys.
`gopher_quality` is shuffle-free (per-row exprs).  `repetition_metrics`
shuffles (doc_id, gram) — key cardinality ≈ tokens per corpus, uniformly
distributed, map-side combined.  `unigram_logprob`'s vocabulary table is
Zipf-bounded (≈100M rows at web scale, a few GB) and broadcast by default;
set broadcast_vocab=False to shuffle-join instead.  `fuzzy_dedup` inherits
the banded LSH + large-star/small-star machinery already audited in
dedup.py / cluster.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text_analysis import STOPWORDS

__all__ = [
    "gopher_quality",
    "repetition_metrics",
    "unigram_logprob",
    "fuzzy_dedup",
    "decontaminate",
    "stratified_sample",
    "pack_sequences",
    "pii_metrics",
    "redact_pii",
    "PII_PATTERNS",
    "canonical_url",
    "latest_capture",
    "dedup_lines",
    "lm_quality_buckets",
    "remove_dup_spans",
    "host_of",
    "blocklist_filter",
    "badwords_filter",
    "curation_funnel",
    "bigram_logprob",
    "quality_classifier_scores",
    "html_to_text",
    "incremental_fuzzy_dedup",
    "heavy_hitter_words",
]

# PII regexes chosen to behave identically under Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backreferences, leftmost-first greedy.  The
# phone class deliberately excludes whitespace so a match never spans token
# boundaries (identical tokenization-independent semantics in both engines).
# Counts are computed independently per pattern on the ORIGINAL text, so an
# IPv4 literal long enough to satisfy the phone shape counts as both —
# redaction applies the patterns in this dict order (email → ipv4 → phone),
# which resolves the overlap deterministically.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+?\d[\d().\-]{7,}\d", "<PHONE>"),
}


def pii_metrics(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document PII match counts (n_email, n_ipv4, n_phone) plus a
    has_pii flag — pure JVM `regexp_extract_all`/`size`, zero shuffle, zero
    UDF.  `keep` carries extra input columns through (same-row projection,
    no join back).  A curation pipeline filters or routes on has_pii and
    redacts with `redact_pii` before training."""
    counts = [
        F.size(
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")), F.lit(pat), F.lit(0)
            )
        )
        .cast("long")
        .alias(f"n_{kind}")
        for kind, (pat, _) in PII_PATTERNS.items()
    ]
    out = docs.select(F.col(id_col), *[F.col(c) for c in keep], *counts)
    total = sum((F.col(f"n_{k}") for k in PII_PATTERNS), F.lit(0).cast("long"))
    return out.withColumn("has_pii", (total > 0).cast("int"))


def redact_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Replace every PII match with its typed placeholder (<EMAIL>, <IP>,
    <PHONE>), applying the patterns in PII_PATTERNS order.  Rewrites
    `text_col` in place (or writes to `out_col`, keeping the original) — a
    drop-in corpus transform.  Sequential `regexp_replace` is the same
    left-to-right rewrite in Spark and DuckDB (with the 'g' flag there)."""
    redacted = F.col(text_col)
    for pat, repl in PII_PATTERNS.values():
        redacted = F.regexp_replace(redacted, pat, repl)
    return docs.withColumn(out_col or text_col, redacted)


def _tokens(text_col: str) -> F.Column:
    """Lowercased whitespace tokens of the trimmed text; empty array for
    NULL/blank/empty text (split('') would yield [''], a phantom token, and
    an un-coalesced NULL would poison every downstream count/flag with
    NULL)."""
    t = F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def gopher_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopwords: int = 2,
    min_alpha_word_ratio: float = 0.8,
) -> DataFrame:
    """Gopher rule battery (Rae et al. 2021 §A1.1) as pure column
    expressions — whole-stage codegen, zero shuffle, zero UDF.

    Per document: word count, mean word length, stopword count, fraction of
    words containing an alphabetic character, plus one 0/1 flag per rule and
    the conjunction `passes`.  Rule comparisons use the UNROUNDED values
    (outputs are rounded for display/oracle hashing only), so a document on
    a rounding boundary is classified identically by any engine.
    """
    e = _gopher_exprs(
        text_col,
        min_words,
        max_words,
        min_mean_word_len,
        max_mean_word_len,
        min_stopwords,
        min_alpha_word_ratio,
    )
    return docs.select(
        F.col(id_col),
        e["n_words"].alias("n_words"),
        F.round(e["mean_wl"], 6).alias("mean_word_len"),
        e["n_stop"].alias("stopword_count"),
        F.round(e["alpha_ratio"], 6).alias("alpha_word_ratio"),
        e["ok_words"].cast("int").alias("ok_words"),
        e["ok_mean"].cast("int").alias("ok_mean_len"),
        e["ok_stop"].cast("int").alias("ok_stopwords"),
        e["ok_alpha"].cast("int").alias("ok_alpha"),
        e["passes"].cast("int").alias("passes"),
    )


def _gopher_exprs(
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopwords: int = 2,
    min_alpha_word_ratio: float = 0.8,
) -> dict:
    """The Gopher rule battery as named Column expressions — shared by
    gopher_quality (the per-doc metrics frame) and gopher_passes_col (the
    bare gate predicate curation fuses into its corpus pin)."""
    toks = _tokens(text_col)
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_wl = sum_len / F.greatest(n_words, F.lit(1))
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))).cast("long")
    n_alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    alpha_ratio = n_alpha_words / F.greatest(n_words, F.lit(1))
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_stop = n_stop >= min_stopwords
    ok_alpha = alpha_ratio >= min_alpha_word_ratio
    return {
        "n_words": n_words,
        "mean_wl": mean_wl,
        "n_stop": n_stop,
        "alpha_ratio": alpha_ratio,
        "ok_words": ok_words,
        "ok_mean": ok_mean,
        "ok_stop": ok_stop,
        "ok_alpha": ok_alpha,
        "passes": ok_words & ok_mean & ok_stop & ok_alpha,
    }


def gopher_passes_col(text_col: str, **bounds):
    """0/1 Column: does the document pass the full Gopher battery?  Same
    unrounded comparisons as gopher_quality — a one-scan gate flag for
    pipelines that fuse several row-local gates into one corpus pass
    (plans/curation.build_clean_snapshot)."""
    return _gopher_exprs(text_col, **bounds)["passes"].cast("int")


def _gram_counts(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, len_s, gram, cnt) — word n-grams WITH multiplicity (unlike
    dedup._token_shingles, which emits distinct shingles for Jaccard).
    len_s rides the group keys (functionally dependent on id) so the
    fraction denominators need no join back to the input."""
    t = F.lower(F.trim(F.col(text_col)))
    # sequence(start > stop) DESCENDS in Spark — the size guard is what
    # keeps this from fabricating grams on short docs.
    grams = F.when(
        F.size("__toks") >= n,
        F.expr(
            f"transform(sequence(1, size(__toks) - {n - 1}),"
            f" i -> array_join(slice(__toks, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.length(t).alias("len_s"),
            _tokens(text_col).alias("__toks"),
        )
        .select("id", "len_s", F.explode(grams).alias("gram"))
        .groupBy("id", "len_s", "gram")
        .agg(F.count("*").alias("cnt"))
    )


def repetition_metrics(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher repetition signals per document:

    * top_ngram_frac — characters covered by the most frequent word
      `top_n`-gram (count × gram length / text length, capped at 1.0; ties
      broken by lexicographically smallest gram).
    * dup_ngram_frac — characters covered by all `dup_n`-grams occurring
      more than once (Σ count × length / text length, capped at 1.0).

    Coverage counts every occurrence, so overlapping occurrences may double
    count before the cap — a deterministic simplification of Gopher's
    character-marking definition that any engine reproduces exactly (the
    SQL oracle computes the same expression).  Documents shorter than the
    gram window score 0.0.  Physical shape: two map-side-combined hash
    aggregations on (doc_id, gram) — uniform keys, no skew — plus one
    per-doc window over the counted grams.
    """
    from ..config import ensure_min_width

    # minimum-width guard: the gram build (array_join over sliced token
    # windows, twice — top_n and dup_n lineages) is a heavy row-local
    # expression; a single-split scan would run it on one core (no-op at
    # corpus scale — see config.ensure_min_width)
    docs = ensure_min_width(docs.select(F.col(id_col), F.col(text_col)))
    top = _gram_counts(docs, id_col, text_col, top_n)
    w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("gram"))
    top_frac = (
        top.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "id",
            F.least(
                F.lit(1.0), F.col("cnt") * F.length("gram") / F.greatest("len_s", F.lit(1))
            ).alias("top_raw"),
        )
    )
    dup = (
        _gram_counts(docs, id_col, text_col, dup_n)
        .where(F.col("cnt") >= 2)
        .groupBy("id")
        .agg(
            F.least(
                F.lit(1.0),
                F.sum(F.col("cnt") * F.length("gram")) / F.greatest(F.first("len_s"), F.lit(1)),
            ).alias("dup_raw")
        )
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return (
        ids.join(top_frac, "id", "left")
        .join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.round(F.coalesce("top_raw", F.lit(0.0)), 6).alias(f"top_{top_n}gram_frac"),
            F.round(F.coalesce("dup_raw", F.lit(0.0)), 6).alias(f"dup_{dup_n}gram_frac"),
        )
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """CCNet-shaped LM filter: score = mean ln P(token) per document, with
    P the corpus' own unigram distribution (count / total).  Low scores mark
    documents whose vocabulary is atypical for the corpus.

    Physical plan: one explode, one map-side-combined word count, one scalar
    total folded in via crossJoin of a 1-row aggregate, then a join of the
    exploded words against the vocabulary — broadcast when
    `broadcast_vocab` (web-scale vocabularies are Zipf-bounded; pass False
    to shuffle-join when the vocab outgrows the broadcast budget) — and one
    final per-doc aggregation.  Every token is in the vocab by construction,
    so the join is inner with no loss.
    """
    words = docs.select(
        F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("w")
    )
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    # total token count from per-doc sizes, NOT sum over freq: Σ size(toks)
    # is a global agg (partial per partition + 1-row exchange, no explode),
    # where agg-over-freq re-executes the whole word-count shuffle — Spark
    # does not reuse the freq exchange across the two consumers.
    total = docs.select(F.size(_tokens(text_col)).alias("n")).agg(
        F.sum("n").alias("tot")
    )
    vocab = freq.crossJoin(F.broadcast(total)).select(
        "w", F.log(F.col("c") / F.col("tot")).alias("lp")
    )
    if broadcast_vocab:
        vocab = F.broadcast(vocab)
    return (
        words.join(vocab, "w")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logprob")
    )


def _uniform_hash(id_col: str) -> F.Column:
    """Deterministic uniform in [0, 1) from the id: first 8 hex chars of
    md5(CAST(id AS STRING)) / 2^32.  md5 is bit-identical across engines
    (the xxhash64 alternative is Spark-only), so sampling decisions are
    reproducible in SQL, across runs, and across parallelism levels."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        / F.lit(float(1 << 32))
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Domain-mixture sampling: keep each document with its stratum's rate,
    decided by a deterministic per-id uniform (_uniform_hash) — the
    downsample-by-source step of corpus mixing (e.g. C4 1.0, books 0.5,
    crawl 0.25).  Exactly reproducible: same input → same kept set, on any
    engine, at any parallelism, with no RNG state.  Zero shuffle — one
    filter the optimizer can push."""
    rate = F.lit(float(default_rate))
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(rate)
    return docs.where(_uniform_hash(id_col) < rate)


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy sequential token-budget packing: within each `by` group in
    `id_col` order, assign documents to training chunks so each chunk's
    preceding cumulative token count stays under `budget_tokens`
    (chunk_id = floor((cumsum - own_tokens) / budget) — a document may
    straddle the boundary; real packers truncate, this assigns).  Returns
    per-chunk stats: (by, chunk_id, n_docs, chunk_tokens).

    Scale shape: one window over (group, id-order) — a single shuffle on
    the group key; the running sum is O(rows).  At 100 TB the group key
    (source/shard) bounds partition size; packing is embarrassingly
    parallel across groups."""
    from ..functions.text_analysis import token_count_col

    toks = token_count_col(F.coalesce(F.col(text_col), F.lit("")))
    w = (
        Window.partitionBy(by)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_doc = docs.select(
        F.col(by), F.col(id_col), toks.cast("long").alias("n_tokens")
    ).withColumn(
        "chunk_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(float(budget_tokens))
        ),
    )
    return per_doc.groupBy(by, "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("chunk_tokens"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    ratio_threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 §C / Llama recipe): flag corpus
    documents sharing word `n`-grams with a benchmark/eval set.  Returns one
    row per corpus document with ≥1 overlapping gram: (id, n_overlap,
    n_grams, overlap_ratio, contaminated) where contaminated compares the
    UNROUNDED ratio against `ratio_threshold`.

    Physical shape: distinct word n-grams per side (dedup._token_shingles —
    the measured O(L) arrays_zip formulation), benchmark grams deduped and
    BROADCAST (eval sets are MBs against a 100 TB corpus), so the corpus
    side never shuffles for the probe; per-doc sizes and hit counts are two
    map-side-combined aggs on doc_id.  With a benchmark too large to
    broadcast, drop the hint and the same plan shuffle-joins on the gram
    key."""
    from .dedup import _token_shingles

    c = _token_shingles(corpus, id_col, text_col, n)
    b = _token_shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    sizes = c.groupBy("id").agg(F.count("*").alias("n_grams"))
    hits = (
        c.join(F.broadcast(b), "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return sizes.join(hits, "id").select(
        F.col("id").alias(id_col),
        "n_overlap",
        "n_grams",
        F.round(F.col("n_overlap") / F.col("n_grams"), 6).alias("overlap_ratio"),
        (F.col("n_overlap") / F.col("n_grams") >= ratio_threshold)
        .cast("int")
        .alias("contaminated"),
    )


def fuzzy_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    keep_col: str | None = None,
) -> DataFrame:
    """End-to-end MinHash fuzzy dedup (the Dolma/RedPajama recipe): banded
    LSH near-dup pairs at `threshold` (dedup.minhash_lsh_pairs — signatures
    once, ids-only band join, estimate prefilter, exact-Jaccard verify) →
    large-star/small-star connected components over the match graph →
    canonical representative per cluster.

    Representative selection: minimum id (default), or — when `keep_col`
    names an exactly-comparable quality column (token count, Gopher score,
    n_chars) — the HIGHEST-quality member, min-id on ties (the
    Dolma/RedPajama "keep best, not first" policy).  Best-of is computed as
    a per-cluster max agg + an equality filter + a min-id agg — two hash
    aggs on the uniform cluster key, deterministic in any engine, no
    window.

    Returns one row per input document: (id, cluster_root, kept) with
    kept=1 iff the document IS its cluster's representative — the rows a
    curation pipeline retains.  Ids are compared as strings end-to-end
    (matching the SQL oracle's VARCHAR min), so root selection is
    engine-independent.

    Storage note: with `keep_col` the result carries a lazy
    localCheckpoint of the scored assignment table (consumed three times
    internally).  Checkpoint blocks are unreplicated executor storage
    pinned until the returned DataFrame's Python reference is
    garbage-collected, and lineage recovery on executor loss is forfeited
    for them.  Long-lived drivers calling this in a loop should drop the
    reference (`df = None`) and `gc.collect()` between iterations —
    retained blocks measurably slow later jobs (see bench.py's _release).
    """
    from .cluster import connected_components
    from .dedup import minhash_lsh_pairs

    # EXACT-DUPLICATE PRE-COLLAPSE (r5).  Web corpora are exact-dup heavy
    # (boilerplate families of thousands of byte-identical pages), and
    # byte-identical texts have byte-identical signatures and band keys —
    # so a family of n docs lands whole in the same band buckets and the
    # pair join emits all n(n-1)/2 edges just to tell CC what one star
    # already says (measured on the 10× bench fixture: single band buckets
    # of 3k+ docs, ~500M candidate pairs, minhash_lsh_pairs 170 s).
    # Collapse each distinct PAIRABLE text (md5 family key; pairable =
    # text yields ≥1 shingle, i.e. octet_length(lower(text)) + 2 >=
    # shingle_k — unpairable micro-docs must NOT collapse, they are
    # singletons under the LSH contract) to its min-string-id
    # representative, run LSH over representatives only, and attach the
    # other members by star edges.  The component set is provably
    # unchanged: band/gate/verify behavior is a function of text alone, so
    # a member pair (a, b) qualifies iff its representative pair does, and
    # the star edges keep every member in its family's component; roots
    # (component-min string id) and the keep-best selection (computed from
    # the assignment joined back to ALL docs) are therefore identical.
    # Pair volume drops from Σ n_f² to unique-text near-dup pairs.
    # pairability rule and shingle width imported from the MinHash operator
    # itself — cannot drift from the kernel it mirrors (ADVICE r5 #1)
    from .dedup import pairable_text_predicate

    sid = F.col(id_col).cast("string")
    elig = docs.where(pairable_text_predicate(text_col)).select(
        sid.alias("__eid"), F.md5(F.col(text_col)).alias("__fp")
    )
    fam = elig.groupBy("__fp").agg(
        F.min("__eid").alias("__rep"), F.count("*").alias("__n")
    )
    star = (
        elig.join(fam, "__fp")
        .where(F.col("__eid") != F.col("__rep"))
        .select(F.col("__eid").alias("src"), F.col("__rep").alias("dst"))
    )
    reps_docs = docs.join(
        fam.select(F.col("__rep").alias("__eid")),
        sid == F.col("__eid"),
        "left_semi",
    )
    pairs = minhash_lsh_pairs(
        reps_docs, id_col=id_col, text_col=text_col, threshold=threshold
    ).select(
        F.col("left_id").cast("string").alias("src"),
        F.col("right_id").cast("string").alias("dst"),
    )
    assignments = connected_components(pairs.unionByName(star))
    ids = docs.select(F.col(id_col).cast("string").alias("entity_id"))
    base = ids.join(assignments, "entity_id", "left").select(
        "entity_id",
        F.coalesce("root", F.col("entity_id")).alias("cluster_root"),
    )
    if keep_col is None:
        return base.select(
            F.col("entity_id").alias(id_col),
            "cluster_root",
            (F.col("cluster_root") == F.col("entity_id"))
            .cast("int")
            .alias("kept"),
        )
    scored = base.join(
        docs.select(
            F.col(id_col).cast("string").alias("entity_id"), F.col(keep_col)
        ),
        "entity_id",
    # consumed 3x below (max agg, best equality join, final rep join);
    # lazy pin so the assignment+quality join evaluates once, not thrice
    ).localCheckpoint(eager=False)
    best = (
        scored.groupBy("cluster_root")
        .agg(F.max(keep_col).alias("_mx"))
        .join(scored, "cluster_root")
        .where(F.col(keep_col) == F.col("_mx"))
        .groupBy("cluster_root")
        .agg(F.min("entity_id").alias("_rep"))
    )
    return scored.join(best, "cluster_root").select(
        F.col("entity_id").alias(id_col),
        "cluster_root",
        (F.col("entity_id") == F.col("_rep")).cast("int").alias("kept"),
    )


# ----------------------------------------------- cross-snapshot URL curation

def canonical_url(url_col) -> F.Column:
    """Deterministic URL canonicalization as a pure JVM column expression
    (whole-stage codegen, zero Python): lowercase; strip default :443/:80
    ports; strip a leading ``www.``; drop the fragment; remove tracking
    query parameters (``utm_*``, ``fbclid``, ``gclid``), promoting the
    first surviving parameter back to ``?`` when the removed one led the
    query string; strip one trailing slash.

    Every rewrite is leftmost/global in BOTH Spark (always-global
    regexp_replace) and the DuckDB oracle (explicit 'g' flag), and no
    pattern uses lookaround, so the two engines agree byte-for-byte.  This
    is the Common-Crawl cross-snapshot dedup key: multiple captures of the
    same page (tracking params, casing, fragments) collapse to one key.
    """
    col = url_col if not isinstance(url_col, str) else F.col(url_col)
    u = F.lower(col)
    u = F.regexp_replace(u, r"#.*", "")  # fragment
    u = F.replace(u, F.lit(":443/"), F.lit("/"))  # default https port
    u = F.replace(u, F.lit(":80/"), F.lit("/"))  # default http port
    u = F.replace(u, F.lit("://www."), F.lit("://"))
    u = F.regexp_replace(u, r"[?&](utm_[a-z]+|fbclid|gclid)=[^&#]*", "")
    u = F.regexp_replace(u, r"^([^?]*)&", "$1?")  # orphaned & after strip
    u = F.regexp_replace(u, r"(.)/$", "$1")  # trailing slash
    return u


def latest_capture(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    keep_cols: tuple = (),
) -> DataFrame:
    """Cross-snapshot dedup: keep the LATEST capture per canonical URL.

    One map-side-combined hash aggregation on the canonical key — no
    window, no second shuffle: ``max_by(struct(url, keep_cols),
    struct(ts, url))`` picks the newest capture with the raw URL as a
    deterministic tie-break, so output is identical at any parallelism.
    Canonical URLs are near-unique keys (captures per page is a small
    constant), so the shuffle is uniform at any corpus size — this is the
    plan you'd run across 10^12 CC captures.

    Returns (canonical_url, n_captures, latest_ts, url, *keep_cols) where
    url/keep_cols come from the kept capture.
    """
    sel = [
        canonical_url(url_col).alias("canonical_url"),
        F.col(ts_col).alias("_ts"),
        F.col(url_col).alias("_u"),
    ] + [F.col(c) for c in keep_cols]
    return (
        pages.select(*sel)
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_captures"),
            F.max("_ts").alias("latest_ts"),
            F.max_by(
                F.struct(F.col("_u").alias(url_col), *keep_cols),
                F.struct("_ts", "_u"),
            ).alias("_kept"),
        )
        .select("canonical_url", "n_captures", "latest_ts", "_kept.*")
    )


# -------------------------------------------------- line-level corpus dedup

def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1,
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-frequency line dedup (the RefinedWeb / CCNet boilerplate
    filter): any line whose exact text occurs in MORE than `max_df`
    documents-lines corpus-wide is removed from every document; surviving
    lines are reassembled in their original order.

    Distributed shape (the one that holds at 100 TB):
      1. split + posexplode           — narrow, no shuffle;
      2. frequency agg on md5(line)   — map-side-combined, 128-bit uniform
         key (16 bytes shuffled per distinct line, not the line text);
      3. anti-join lines against the over-threshold set — that set is the
         corpus' heavy hitters (df > max_df), which is orders of magnitude
         smaller than the line table; AQE converts the join to broadcast
         at runtime when it fits;
      4. regroup by doc id, array_sort(struct(pos, line)) → concat_ws —
         one shuffle keyed on doc id.

    Documents whose every line is boilerplate drop out entirely (that IS
    the curation semantics: a fully-templated page carries no signal).
    NULL text produces no lines and therefore also drops — callers that
    want empty-string semantics coalesce first.  md5 collisions would
    conflate two distinct lines (probability ~n²/2¹²⁸ — negligible at any
    corpus size).
    """
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_h", F.md5("line"))
    boiler = (
        lines.groupBy("_h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("_h")
    )
    kept = lines.join(boiler, "_h", "left_anti")
    return (
        kept.groupBy("_id")
        .agg(
            F.count("*").alias("n_lines_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias(out_col),
        )
        .withColumnRenamed("_id", id_col)
    )


# ---------------------------------------------- CCNet quality bucketing

def lm_quality_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cuts: tuple = (1 / 3, 2 / 3),
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §3.3): bucket
    documents by their LM score percentile — here the corpus-unigram
    `unigram_logprob` score (drop-in for a real LM perplexity column).

    No global sort: the two cut points come from ONE 1-row exact-percentile
    aggregate folded back via a broadcast crossJoin — at 10^12 docs the
    common ntile/window formulation would globally sort the corpus; this
    never does.  The scored table feeds two consumers (threshold agg +
    bucketing side), so the operator persists it (MEMORY_AND_DISK) — the
    unigram word-count shuffle runs ONCE: the broadcast threshold subtree
    materializes the cache, the bucketing scan reuses it.  At corpus scale
    additionally swap `percentile` for `percentile_approx` to make the
    cut-agg single-pass-mergeable — the plan shape is unchanged.
    Comparisons are strict-< against the interpolated thresholds on the
    6dp-rounded scores (identical classification in the DuckDB oracle,
    which uses quantile_cont — the same linear interpolation).  Zero-token
    documents carry no score and are excluded (as in CCNet, which scores
    only tokenizable text).
    """
    from pyspark import StorageLevel

    scored = unigram_logprob(docs, id_col=id_col, text_col=text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    th = scored.agg(
        F.percentile("avg_logprob", F.lit(list(cuts))).alias("th")
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .select(
            id_col,
            "n_tokens",
            "avg_logprob",
            F.when(F.col("avg_logprob") < F.col("th")[0], "tail")
            .when(F.col("avg_logprob") < F.col("th")[1], "middle")
            .otherwise("head")
            .alias("bucket"),
        )
    )


# ---------------------------------------- exact-substring (span) dedup

def remove_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021 §3.1) re-expressed
    relationally: any k-token span whose exact text occurs >= `min_count`
    times across the corpus (suffix-array duplicates in the paper) is
    excised from every document; tokens covered by at least one duplicated
    span are dropped and the survivors re-joined in order.

    Returns (id, n_tokens, n_removed, clean_text).

    Physical plan — the shape that survives 100 TB:
    1. gram rows carry ONLY (id, pos, 64-bit hex of the span) — document
       text never rides the shuffle; the hash is the first 16 md5 hex chars
       so the DuckDB oracle reproduces it bit-for-bit (xxhash64 would be
       Spark-only).  Grams are built as byte-offset substrings of the
       once-joined doc (zero-copy views, not per-gram slice+concat — see
       the inline note).
    2. one map-side-combined count over the gram hash (uniform key), then a
       LEFT SEMI join of grams against the >=min_count hashes — semi-join
       output is bounded by the gram table, and AQE skew-split handles the
       boilerplate mega-gram (one phrase shared by 10^8 pages) that a plain
       inner join would funnel to one reducer.
    3. duplicated start positions fold back per document as ONE array
       (collect_set after the semi-join); span coverage + token excision are
       per-row JVM lambda expressions (exists over the starts array) — no
       per-token shuffle, no Python.
    The gram lineage is evaluated twice (count side + probe side) and that
    is INTENTIONAL: the only alternatives are (a) persisting the gram
    table — ~40 bytes/token, i.e. larger than the corpus itself — or (b)
    forcing both consumers through one repartition(h) exchange, which
    turns a no-shuffle broadcast-semi probe into a full gram-table shuffle
    AND forfeits the map-side combine that makes the count side's shuffle
    tiny.  Re-streaming a cheap tokenize+md5 projection is strictly
    cheaper at corpus scale (measured: the recompute-vs-materialize rule
    in BENCH/BASELINE.md finding 3).
    Reconstruction is per-row O(n_tokens x n_dup_spans) with both factors
    page-bounded; the relational work is two shuffles of slim rows.
    """
    from ..config import ensure_min_width

    # minimum-width guard: gram hashing (two evaluations by design) and the
    # span-excision reconstruction are heavy row-local expressions; a
    # single-split input (tiny parquet scan / narrow checkpoint) would run
    # them on one core.  No-op when the input already has >= stage-width
    # partitions (every corpus-scale scan does).
    base = ensure_min_width(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col))
    ).select("_id", _tokens(text_col).alias("toks")).withColumn(
        "n", F.size("toks")
    )
    # Gram build: the naive per-gram `concat_ws(" ", slice(toks, i, k))`
    # allocates an array + string PER GRAM and stops scaling past ~8 cores
    # on one box (allocation-rate bound; measured 19.6 s -> 10.5 s at
    # local[32] for 65M grams by this rewrite, kernel 8->32-core efficiency
    # 0.42 -> 0.69).  Instead: join the tokens ONCE per doc, cast to
    # binary, and take each gram as a byte-offset substring — an O(1)
    # slice whose bytes are identical to the joined gram text, so
    # md5(gram) and the DuckDB oracle are unchanged.  Token byte offsets
    # come from a prefix scan over octet_length: a single-pass fold for
    # typical docs, switching to a two-level (chunked) scan past 512
    # tokens because the fold's array-concat accumulator is O(n^2) — the
    # CASE WHEN evaluates lazily per row, so each doc pays only its branch.
    _G = 64  # chunk width of the two-level scan
    lens = F.transform(F.col("toks"), lambda t: F.octet_length(t) + F.lit(1))
    st_flat = F.aggregate(
        F.col("toks"),
        F.array(F.lit(1)),
        lambda acc, t: F.concat(
            acc, F.array(F.element_at(acc, -1) + F.octet_length(t) + 1)
        ),
    )
    _nch = F.ceil(F.col("n") / F.lit(_G)).cast("int")
    _chunk_sums = F.transform(
        F.sequence(F.lit(0), _nch - 1),
        lambda c: F.aggregate(
            F.slice(lens, c * _G + 1, _G), F.lit(0), lambda a, x: a + x
        ),
    )
    _chunk_offs = F.aggregate(
        _chunk_sums,
        F.array(F.lit(1)),
        lambda acc, s: F.concat(acc, F.array(F.element_at(acc, -1) + s)),
    )
    st_chunked = F.concat(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), _nch - 1),
                lambda c: F.aggregate(
                    F.slice(lens, c * _G + 1, _G - 1),
                    F.array(F.element_at(_chunk_offs, c + 1)),
                    lambda acc, x: F.concat(
                        acc, F.array(F.element_at(acc, -1) + x)
                    ),
                ),
            )
        ),
        F.array(F.element_at(_chunk_offs, -1)),
    )
    grams = (
        base.where(F.col("n") >= k)
        .withColumn("jb", F.concat_ws(" ", "toks").cast("binary"))
        .withColumn(
            "st",
            F.when(F.col("n") <= 512, st_flat).otherwise(st_chunked),
        )
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.substring(
                            F.md5(
                                F.substring(
                                    F.col("jb"),
                                    F.element_at("st", i),
                                    F.element_at("st", i + k)
                                    - F.element_at("st", i)
                                    - F.lit(1),
                                )
                            ),
                            1,
                            16,
                        ).alias("h"),
                    ),
                )
            ).alias("g"),
        )
        .select("_id", "g.pos", "g.h")
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count)
        .select("h")
    )
    starts = (
        grams.join(dup, "h", "left_semi")
        .groupBy("_id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    sts = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            F.col("toks"),
            lambda x, i: F.struct((i + 1).alias("p"), x.alias("t")),
        ),
        lambda s: ~F.exists(
            sts, lambda st: (s["p"] >= st) & (s["p"] <= st + F.lit(k - 1))
        ),
    )
    return (
        base.join(starts, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("n").cast("long").alias("n_tokens"),
            (F.col("n") - F.size(kept)).cast("long").alias("n_removed"),
            F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias(
                "clean_text"
            ),
        )
    )


# ------------------------------------------- URL blocklist / bad words

def host_of(url_col) -> F.Column:
    """Lowercase host of a URL: scheme/userinfo/port stripped, one leading
    'www.' removed.  Pure JVM regexp chain, identical under RE2 (DuckDB) —
    no lookaround, no backreferences."""
    u = F.lower(url_col if not isinstance(url_col, str) else F.col(url_col))
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.\-]*://([^/?#]+)", 1)
    host = F.regexp_replace(host, r"^[^@]*@", "")   # userinfo
    host = F.regexp_replace(host, r":\d+$", "")      # port
    return F.regexp_replace(host, r"^www\.", "").alias("host")


def blocklist_filter(
    df: DataFrame,
    blocked: list,
    url_col: str = "url",
    keep: bool = False,
    expr_max_entries: int = 64,
) -> DataFrame:
    """C4-style URL blocklist: a page is blocked when its host equals a
    blocklist entry OR is a subdomain of one (suffix match on '.entry').
    Adds `host` and `blocked` (0/1); `keep=True` additionally drops blocked
    rows.

    Two physical shapes, identical output (pinned in test_webtext), selected
    by list size:

    * <= `expr_max_entries`: the list compiles into a shuffle-free per-row
      OR chain — zero joins, right for small curated lists.
    * larger (the real C4 blocklist is ~4x10^5 hosts — an OR chain that big
      blows the codegen method limit): each DISTINCT host explodes into its
      dot-boundary parent-domain suffix chain ('a.b.com' -> a.b.com, b.com,
      com) and broadcast-hash-joins the entry list (left_semi) — a host is
      blocked iff some suffix IS an entry, exactly the equals-or-'.entry'
      predicate.  The corpus itself NEVER shuffles: the only shuffle is the
      dedup over distinct hosts (O(10^8) short strings at Common-Crawl
      scale, trivial vs the corpus), and the blocked-host dimension joins
      back broadcast.  Blocked hosts are bounded by the distinct hosts that
      actually match — if a corpus somehow exceeds the broadcast budget
      there, pre-filter the blocklist to observed TLDs or shard it.
    """
    host = host_of(url_col)
    if len(blocked) <= expr_max_entries:
        cond = F.lit(False)
        for b in blocked:
            b = b.lower()
            cond = cond | (host == b) | host.endswith("." + b)
        out = df.withColumn("host", host).withColumn(
            "blocked", cond.cast("int")
        )
        return out.where(F.col("blocked") == 0) if keep else out

    spark = df.sparkSession
    entries = spark.createDataFrame(
        [(b.lower(),) for b in sorted(set(blocked))], "suf string"
    )
    base = df.withColumn("host", host)
    suffix_chain = F.expr(
        "transform(sequence(1, size(__hp)),"
        " i -> array_join(slice(__hp, i, size(__hp) - i + 1), '.'))"
    )
    hit_hosts = (
        base.select("host")
        .where(F.col("host").isNotNull())
        .dropDuplicates()
        .withColumn("__hp", F.split("host", r"\."))
        .select("host", F.explode(suffix_chain).alias("suf"))
        .join(F.broadcast(entries), "suf", "left_semi")
        .select("host")
        .dropDuplicates()
        .withColumn("__b", F.lit(1))
    )
    out = (
        base.join(F.broadcast(hit_hosts), "host", "left")
        .withColumn(
            "blocked",
            # NULL host stays NULL-blocked, matching the OR chain's
            # three-valued (NULL == entry) semantics exactly
            F.when(F.col("host").isNull(), F.lit(None).cast("int")).otherwise(
                F.coalesce(F.col("__b"), F.lit(0)).cast("int")
            ),
        )
        .select(*df.columns, "host", "blocked")
    )
    return out.where(F.col("blocked") == 0) if keep else out


def badwords_filter(
    docs: DataFrame,
    words: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4 §2.2 'bad word' page filter at token granularity: count
    occurrences of blocklisted tokens and flag pages containing any.
    Returns (id, n_bad, kept).  Shuffle-free: one lowercase tokenize + one
    array filter per row, all JVM (the word list compiles to an In
    expression — fine for the O(10^3) lists used in practice)."""
    n_bad = badwords_count_col(text_col, words)
    return docs.select(
        F.col(id_col),
        n_bad.alias("n_bad"),
        (n_bad == 0).cast("int").alias("kept"),
    )


def badwords_count_col(text_col: str, words: list):
    """long Column: number of blocklisted tokens in the document (0 for an
    empty list).  The row-local core of badwords_filter, exposed so fused
    one-scan gate pipelines (plans/curation) can compute `kept` as
    `badwords_count_col(..) == 0` without a second tokenize pass frame."""
    wl = [w.lower() for w in words]
    if not wl:
        return F.lit(0).cast("long")
    bad = F.filter(_tokens(text_col), lambda t: t.isin(wl))
    return F.size(bad).cast("long")


# --------------------------------------------- composed curation funnel

def curation_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    badwords: tuple = (),
    k: int = 8,
    min_count: int = 2,
    storage_level=None,
    **gopher_kwargs,
) -> DataFrame:
    """The whole curation pipeline as ONE declarative plan, reported as the
    per-stage survival funnel the curation papers publish (RefinedWeb
    Fig. 2, Gopher Table A1): raw → Gopher quality gate → bad-word filter →
    exact-substring span excision → exact dedup of the cleaned text.

    Returns 5 rows: (stage, stage_name, n_docs, n_tokens) where n_tokens is
    whitespace tokens surviving that stage (post-excision counts from stage
    3 on).  Corpus-frequency stages (span dedup) run on the SURVIVOR set,
    as in a real pipeline — filters change what counts as a duplicate.

    Each stage is a 1-row aggregate over a successively filtered lineage;
    Spark compiles the union into one plan with shared scan branches.  The
    multiply-consumed lineages (the stage-2 survivor set and the
    span-excised table) are NOT persisted by default: they are cheap
    streaming column-expression chains over the corpus, and materializing
    the full text costs more than re-streaming it — measured in the bench
    context at sf0.1 (5k docs: ~6.3 s persisted vs ~1.9 s recomputed,
    warm medians) and at a 10x replica (50k docs: 27.0 s vs 25.0 s); see
    BENCH/BASELINE.md finding 3 (recompute-vs-materialize rule).  This
    reverts the r3 in-operator MEMORY_AND_DISK persists that caused the
    recorded 2.56 s -> 5.01 s bench regression (VERDICT r3 "What's wrong"
    #1).  Pass ``storage_level`` (e.g.
    ``StorageLevel.MEMORY_AND_DISK``) to persist both multiply-consumed
    subtrees anyway — the right call only when the upstream ``docs``
    lineage itself is expensive (a join or a decoded/extracted column),
    not a plain scan.
    """
    n_tok = F.size(_tokens(text_col)).cast("long")

    def _maybe_persist(df):
        return df.persist(storage_level) if storage_level is not None else df

    def _stage(df, i, name, tok_expr):
        return df.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum(tok_expr), F.lit(0)).cast("long").alias("n_tokens"),
        ).select(
            F.lit(i).alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_docs",
            "n_tokens",
        )

    # Row-local gates as FLAG COLUMNS on one projection (the same fused
    # shape plans/curation.build_clean_snapshot uses): the per-stage
    # survivor sets become cheap filters over the flags instead of
    # left-semi joins against separately-evaluated gate branches — two
    # join exchanges gone from the plan, and every re-consumer of the
    # survivor lineage (the span-dedup stage reads it three times)
    # re-streams a filter, not a join.  Gates are deterministic row-local
    # predicates, so the flag conjunction is row-identical to the
    # sequential semi-joins.
    gok = gopher_passes_col(text_col, **gopher_kwargs).alias("__gok")
    if badwords:
        bok = (
            (badwords_count_col(text_col, list(badwords)) == 0)
            .cast("int")
            .alias("__bok")
        )
        flagged = docs.select(F.col(id_col), F.col(text_col), gok, bok)
        surv1 = flagged.where(F.col("__gok") == 1).select(id_col, text_col)
        surv2 = _maybe_persist(
            flagged.where((F.col("__gok") == 1) & (F.col("__bok") == 1)).select(
                id_col, text_col
            )
        )
    else:
        flagged = docs.select(F.col(id_col), F.col(text_col), gok)
        surv1 = flagged.where(F.col("__gok") == 1).select(id_col, text_col)
        surv2 = _maybe_persist(surv1)
    cleaned = _maybe_persist(
        remove_dup_spans(
            surv2, id_col=id_col, text_col=text_col, k=k, min_count=min_count
        )
    )
    kept_tok = (F.col("n_tokens") - F.col("n_removed")).cast("long")
    reps = cleaned.groupBy("clean_text").agg(F.min(kept_tok).alias("ct"))
    return (
        _stage(docs, 0, "raw", n_tok)
        .unionAll(_stage(surv1, 1, "gopher", n_tok))
        .unionAll(_stage(surv2, 2, "badwords", n_tok))
        .unionAll(_stage(cleaned, 3, "span_dedup", kept_tok))
        .unionAll(_stage(reps, 4, "exact_dedup", F.col("ct")))
    )


# ---------------------------------------- interpolated bigram LM scoring

def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.9,
    broadcast_lm: bool = True,
) -> DataFrame:
    """CCNet-shaped LM perplexity filter, one order up from
    `unigram_logprob`: score each document by the mean ln P(w_i | w_{i-1})
    under an interpolated bigram model trained on the corpus itself —

        P(w|v) = lam * c(v,w)/c(v,·) + (1-lam) * c(w)/total

    (Jelinek-Mercer interpolation with the corpus unigram distribution;
    CCNet uses a pretrained 5-gram KenLM, whose table would slot into the
    same broadcast-join position).  Returns (doc_id, n_bigrams,
    avg_logprob, perplexity) for every document with >= 2 tokens; shorter
    documents carry no bigram and are excluded, as in CCNet, which scores
    only tokenizable text.

    Physical plan — train and score in ONE lineage, all counts map-side
    combined on uniform keys:
      * bigram counts c(v,w): one explode of position-aligned token pairs
        (slice/transform, no UDF) + hash agg;
      * context counts c(v,·): a groupBy v over the bigram table (cheaper
        than a second corpus pass — it reads the already-shuffled counts);
      * unigram counts + 1-row total exactly as `unigram_logprob`;
      * the assembled LM table (Zipf-bounded: distinct bigrams <<
        corpus-token count) joins back to the per-doc bigram stream,
        broadcast by default — pass broadcast_lm=False to shuffle-join
        when the LM table outgrows the broadcast budget at corpus scale;
      * one final per-doc aggregation.
    Every doc-side bigram exists in the LM table by construction, so the
    join is inner with no loss.
    """
    toks = docs.select(F.col(id_col).alias("id"), _tokens(text_col).alias("t"))
    pairs = toks.where(F.size("t") >= 2).select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS v, t[i] AS w))"
            )
        ).alias("b"),
    ).select("id", F.col("b.v").alias("v"), F.col("b.w").alias("w"))

    cb = pairs.groupBy("v", "w").agg(F.count("*").alias("cb"))
    cv = cb.groupBy("v").agg(F.sum("cb").alias("cv"))
    cu = toks.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count("*").alias("cu")
    )
    total = toks.select(F.size("t").alias("n")).agg(F.sum("n").alias("tot"))

    lm = (
        cb.join(cv, "v")
        .join(cu, "w")
        .crossJoin(F.broadcast(total))
        .select(
            "v",
            "w",
            F.log(
                F.lit(lam) * F.col("cb") / F.col("cv")
                + F.lit(1.0 - lam) * F.col("cu") / F.col("tot")
            ).alias("lp"),
        )
    )
    if broadcast_lm:
        lm = F.broadcast(lm)
    return (
        pairs.join(lm, ["v", "w"])
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
            F.round(F.exp(-F.avg("lp")), 6).alias("perplexity"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "avg_logprob", "perplexity")
    )


# ---------------------------------------- model-based quality classifier

def quality_classifier_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights=None,
    bias: float | None = None,
    method: str = "expr",
    keep: tuple = (),
) -> DataFrame:
    """DCLM/LLaMA-style model-based quality filtering: score every document
    with a fastText-shaped linear classifier over hashed word uni+bigram
    buckets (functions/quality_model.py; trained driver-side once — the
    model is a few KB, scoring is the 100 TB job).  Returns (doc_id,
    n_grams, quality_prob) for every document with >= 1 token;
    quality_prob = sigmoid(bias + sum_g w[h(g)] / n_grams).

    Two physical shapes, both ZERO Python, selected by `method`:

    * "expr" (default, right for shipped models up to ~10^5 buckets): the
      weight vector rides the plan as an array literal and the whole score
      is ONE projection — grams via transform/concat, bucket hash via
      md5+conv, the sum via a higher-order `aggregate` fold.  No explode,
      no join, NO SHUFFLE: the op is a stateless per-row expression, so it
      composes with Structured Streaming unchanged (parity pinned in
      test_webtext) and its cost profile is exactly "read the corpus once".
    * "join" (for big models, e.g. a 2M-bucket fastText .bin): explode
      grams → broadcast-join the weight table → one map-side-combined
      per-doc aggregation.  Same output bit-for-bit (pinned by test).
    """
    from ..functions.quality_model import train_quality_classifier

    if weights is None:
        weights, bias = train_quality_classifier()
    n_buckets = len(weights)

    # `keep`: extra columns (names, or named Column exprs over the input
    # row) carried through to the output — lets a consumer needing the
    # score AND another row-local metric over the same corpus (e.g. the
    # ROC query's Gopher label) fuse both into this single projection
    # instead of scanning the corpus twice and joining branches back on id.
    # NOTE: deliberately NO width guard here — the expr path's contract is
    # "stateless projection, zero Exchange" (streaming composability,
    # pinned by test_webtext); callers with a single-split batch input
    # apply config.ensure_min_width to `docs` themselves (q_quality_roc).
    keep_in = [F.col(c) if isinstance(c, str) else c for c in keep]
    toks = docs.select(
        F.col(id_col).alias("id"), _tokens(text_col).alias("t"), *keep_in
    )
    keep_names = [c for c in toks.columns if c not in ("id", "t")]
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"),
    ).otherwise(F.array().cast("array<string>"))

    if method == "expr":
        warr = F.array(*[F.lit(float(w)) for w in weights])
        grams_df = toks.where(F.size("t") >= 1).select(
            "id",
            F.concat(F.col("t"), bigrams).alias("grams"),
            warr.alias("__w"),
            *keep_names,
        )
        # left-to-right fold over the doc's grams: acc + w[h(g)]
        s = F.expr(
            "aggregate(grams, 0.0D, (acc, g) ->"
            " acc + element_at(__w,"
            f" int(conv(substring(md5(g), 1, 8), 16, 10) % {n_buckets}) + 1))"
        )
        z = F.lit(float(bias)) + s / F.size("grams")
        return grams_df.select(
            F.col("id").alias(id_col),
            F.size("grams").cast("long").alias("n_grams"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_prob"),
            *keep_names,
        )

    spark = docs.sparkSession
    wtab = F.broadcast(
        spark.createDataFrame(
            [(j, float(w)) for j, w in enumerate(weights)], "bucket long, w double"
        )
    )
    grams = toks.where(F.size("t") >= 1).select(
        "id", F.explode(F.concat(F.col("t"), bigrams)).alias("g"), *keep_names
    )
    bucket = (
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long") % n_buckets
    ).alias("bucket")
    z = F.lit(float(bias)) + F.sum("w") / F.count("*")
    return (
        grams.select("id", bucket, *keep_names)
        .join(wtab, "bucket")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_prob"),
            *[F.first(c).alias(c) for c in keep_names],
        )
        .select(F.col("id").alias(id_col), "n_grams", "quality_prob", *keep_names)
    )


# ---------------------------------------- HTML -> text extraction

def html_to_text(
    pages: DataFrame,
    html_col: str = "html",
    out_col: str = "extracted_text",
) -> DataFrame:
    """Boilerplate-stripping HTML → text extraction (the first stage of
    every Common-Crawl pipeline: WET-style text from the WARC's raw bytes).
    Deterministic and engine-portable by construction — every pattern
    behaves identically under Java regex (Spark) and RE2 (DuckDB): no
    lookaround, non-greedy + (?is) flags only.

    Steps, in order: UTF-8 decode (binary column supported) → drop
    <script>/<style>/<!-- --> blocks wholesale → <br>/<p>/<div>/<li>/<tr>
    and heading closers become newlines (so block structure survives tag
    stripping) → strip all remaining tags → unescape the six common
    entities (&amp; LAST, so '&amp;lt;' decodes to the literal '&lt;', not
    '<') → collapse runs of spaces/tabs, then 3+ newlines to 2, and trim.

    One shuffle-free projection per row — the 100 TB shape is 'read the
    WARC partition once'; composes with Structured Streaming unchanged."""
    col = F.col(html_col)
    # BinaryType html (the input_hint schema) decodes first; StringType
    # passes through decode() untouched in Spark but not DuckDB, so the
    # operator accepts either and the oracle synthesizes strings.
    if dict(pages.dtypes).get(html_col) == "binary":
        col = F.decode(col, "UTF-8")
    s = F.coalesce(col, F.lit(""))
    for pat in (r"(?is)<script[^>]*>.*?</script>",
                r"(?is)<style[^>]*>.*?</style>",
                r"(?s)<!--.*?-->"):
        s = F.regexp_replace(s, pat, " ")
    s = F.regexp_replace(s, r"(?i)<(br|/p|/div|/li|/tr|/h[1-6])[^>]*>", "\n")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        s = F.replace(s, F.lit(ent), F.lit(rep))
    s = F.regexp_replace(s, r"[ \t]+", " ")
    s = F.regexp_replace(s, r" ?\n ?", "\n")
    s = F.regexp_replace(s, r"\n{3,}", "\n\n")
    # plain trim() strips spaces only in BOTH engines; strip the newline/tab
    # edges explicitly (same character-set semantics in Spark and DuckDB)
    return (
        pages.withColumn("__erx_raw", s)
        .withColumn(out_col, F.expr("trim(BOTH ' \n\t' FROM __erx_raw)"))
        .drop("__erx_raw")
    )


# ------------------------------------ incremental (snapshot) fuzzy dedup

def incremental_fuzzy_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    corpus_artifact=None,
) -> DataFrame:
    """Near-dup version of the snapshot-vs-corpus dedup (the Dolma
    cross-snapshot recipe): flag every NEW document that is MinHash-near
    (exact-verified Jaccard >= threshold) to ANY existing corpus document.
    Returns (doc_id, n_corpus_matches, kept) for every new document,
    kept = 1 iff no corpus neighbor reaches the threshold.

    Implemented by `dedup.fuzzy_flags_against_corpus` with the candidate/
    gate/verify semantics of `dedup.minhash_lsh_pairs` restricted to cross
    pairs (band keys of the two corpora meet, so new x new and corpus x
    corpus pairs are never generated; the corpus side's signatures/bands/
    shingles are the precomputable per-snapshot artifact): when the corpus
    feature table fits the broadcast budget the whole count runs in ONE
    zero-shuffle mapInPandas pass over the new side — on a self-similar
    crawl a pair table is millions of rows carrying per-pair shingle
    arrays just to be counted (see the flag operator's measured note);
    over budget it falls back to the tiered cross-pair path + count +
    left join."""
    from .dedup import _ARTIFACT_UNSET, fuzzy_flags_against_corpus

    # corpus_artifact: optional prebuilt build_fuzzy_corpus_artifact result
    # (None here means "not supplied", mapped to the operator's sentinel)
    return fuzzy_flags_against_corpus(
        new_docs,
        corpus_docs,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        corpus_artifact=(
            _ARTIFACT_UNSET if corpus_artifact is None else corpus_artifact
        ),
    )


# ---------------------------------------- sketch-based heavy hitters

def heavy_hitter_words(
    docs: DataFrame,
    text_col: str = "text",
    support: float = 0.001,
) -> DataFrame:
    """Corpus-wide heavy-hitter tokens (stopword discovery, boilerplate
    token detection, blocklist candidates): every word whose exact corpus
    frequency EXCEEDS support * total_tokens, found sketch-first —

    1. **Sketch**: `DataFrame.freqItems` runs distributed Misra-Gries /
       Karp-style counting over the exploded token stream — one pass,
       O(1/support) state per partition, NO full word-count shuffle.  Its
       guarantee is one-sided: every item with frequency > support*N is
       returned (false positives possible, false negatives not).
    2. **Exact verify**: the <= 1/support candidates broadcast back onto
       the token stream; one map-side-combined count over candidate rows
       only, then the exact threshold.

    The output is therefore EXACT (the sketch only prunes the count's
    input — the same sketch-then-verify contract as the bloom dedup and
    the LSH estimate prefilter), deterministic at any parallelism, and the
    full-vocabulary shuffle is replaced by a count over heavy-candidate
    rows.  At 10^12 docs the full word count shuffles ~10^8 Zipf keys;
    this plan shuffles only the one-row total and the candidate counts.

    Returns (w, cnt, frac) ordered nowhere (caller sorts), cnt exact."""
    words = docs.select(F.explode(_tokens(text_col)).alias("w"))
    cands = [
        r for r in words.freqItems(["w"], support=support).first()["w_freqItems"]
        if r is not None
    ]
    total = docs.select(F.size(_tokens(text_col)).alias("n")).agg(
        F.sum("n").alias("tot")
    )
    cand_df = F.broadcast(
        words.sparkSession.createDataFrame([(c,) for c in cands], "w string")
    )
    return (
        words.join(cand_df, "w")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") > F.lit(support) * F.col("tot"))
        .select("w", "cnt", F.round(F.col("cnt") / F.col("tot"), 6).alias("frac"))
    )
