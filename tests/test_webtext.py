"""Webtext curation operators: Gopher quality rules, repetition metrics,
corpus unigram LM scoring, end-to-end fuzzy dedup (operators/webtext.py).
Hand-computed expectations on crafted fixtures; the sf-scale value parity
is pinned by the DuckDB oracles in __spark_entry__."""

from __future__ import annotations

import math

import pytest

from entity_resolution_pipeline_spark.operators import webtext as W


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# ------------------------------------------------------------ gopher_quality

def test_gopher_each_rule_fails_independently(spark):
    good = "the quick brown fox jumps over a lazy dog and runs on " * 5  # 55 words
    too_short = "the quick fox and a dog"  # 6 words < min_words
    no_stop = "quick brown foxes jump quickly " * 11  # 55 words, 0 stopwords
    long_words = "extraordinarily incomprehensible " * 30  # mean len > 10
    numeric = ("12345 67890 " * 30) + "the and is of to"  # alpha ratio < 0.8
    out = {
        r["doc_id"]: r
        for r in W.gopher_quality(
            _docs(spark, [good, too_short, no_stop, long_words, numeric]),
            min_words=50,
        ).collect()
    }
    assert out[0]["passes"] == 1
    assert (out[1]["ok_words"], out[1]["passes"]) == (0, 0)
    assert (out[2]["ok_stopwords"], out[2]["passes"]) == (0, 0)
    assert (out[3]["ok_mean_len"], out[3]["passes"]) == (0, 0)
    assert (out[4]["ok_alpha"], out[4]["passes"]) == (0, 0)


def test_gopher_metrics_values(spark):
    row = W.gopher_quality(_docs(spark, ["the cat sat"]), min_words=2).collect()[0]
    assert row["n_words"] == 3
    assert row["mean_word_len"] == pytest.approx(9 / 3)
    assert row["stopword_count"] == 1  # 'the'
    assert row["alpha_word_ratio"] == 1.0


def test_gopher_empty_and_blank_text(spark):
    rows = {r["doc_id"]: r for r in W.gopher_quality(_docs(spark, ["", "   "])).collect()}
    for r in rows.values():
        assert r["n_words"] == 0
        assert r["mean_word_len"] == 0.0
        assert r["passes"] == 0


# -------------------------------------------------------- repetition_metrics

def test_top_bigram_fraction_hand_computed(spark):
    # tokens [a b a b a b]; bigrams: 'a b'x3, 'b a'x2; len('a b a b a b')=11
    row = W.repetition_metrics(_docs(spark, ["a b a b a b"])).collect()[0]
    assert row["top_2gram_frac"] == pytest.approx(round(3 * 3 / 11, 6))
    # only four 5-grams, 'a b a b a' and 'b a b a b' once each -> no dups
    assert row["dup_5gram_frac"] == 0.0


def test_dup_5gram_fraction_caps_at_one(spark):
    # 8 tokens: 5-grams 'a b a b a'x2, 'b a b a b'x2 -> (2*9+2*9)/15 > 1
    row = W.repetition_metrics(_docs(spark, ["a b a b a b a b"])).collect()[0]
    assert row["dup_5gram_frac"] == 1.0


def test_repetition_short_and_unique_docs(spark):
    rows = {
        r["doc_id"]: r
        for r in W.repetition_metrics(
            _docs(spark, ["single", "all words here differ fully now"])
        ).collect()
    }
    assert rows[0]["top_2gram_frac"] == 0.0  # no bigram window
    assert rows[1]["dup_5gram_frac"] == 0.0
    # unique bigrams: top count 1, gram 'all words' len 9, text len 31
    assert rows[1]["top_2gram_frac"] == pytest.approx(round(9 / 31, 6))


def test_top_bigram_tie_breaks_lexicographically(spark):
    # 'b a' and 'a b' both appear once; tie -> lexicographically smaller 'a b'
    row = W.repetition_metrics(_docs(spark, ["b a b"])).collect()[0]
    assert row["top_2gram_frac"] == pytest.approx(round(3 / 5, 6))


# ---------------------------------------------------------- unigram_logprob

def test_unigram_logprob_hand_computed(spark):
    # corpus tokens: a a b | b  ->  P(a)=0.5, P(b)=0.5
    rows = {
        r["doc_id"]: r for r in W.unigram_logprob(_docs(spark, ["a a b", "b"])).collect()
    }
    assert rows[0]["n_tokens"] == 3
    assert rows[0]["avg_logprob"] == pytest.approx(round(math.log(0.5), 6))
    assert rows[1]["avg_logprob"] == pytest.approx(round(math.log(0.5), 6))


def test_unigram_logprob_rare_words_score_lower(spark):
    common = "spark " * 20
    rare = "antidisestablishmentarianism"
    rows = {
        r["doc_id"]: r
        for r in W.unigram_logprob(_docs(spark, [common, rare])).collect()
    }
    assert rows[1]["avg_logprob"] < rows[0]["avg_logprob"]
    p_common, p_rare = 20 / 21, 1 / 21
    assert rows[0]["avg_logprob"] == pytest.approx(round(math.log(p_common), 6))
    assert rows[1]["avg_logprob"] == pytest.approx(round(math.log(p_rare), 6))


def test_unigram_logprob_skips_empty_docs(spark):
    out = W.unigram_logprob(_docs(spark, ["", "a b"])).collect()
    assert {r["doc_id"] for r in out} == {1}


# --------------------------------------------------------------- fuzzy_dedup

def test_fuzzy_dedup_keeps_min_id_per_cluster(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = [base, base, base + " extra", "completely different content here now"]
    rows = {r["doc_id"]: r for r in W.fuzzy_dedup(_docs(spark, texts)).collect()}
    assert rows["0"]["kept"] == 1 and rows["0"]["cluster_root"] == "0"
    assert rows["1"]["kept"] == 0 and rows["1"]["cluster_root"] == "0"
    assert rows["2"]["kept"] == 0 and rows["2"]["cluster_root"] == "0"
    assert rows["3"]["kept"] == 1 and rows["3"]["cluster_root"] == "3"


def test_fuzzy_dedup_keep_best_picks_highest_quality(spark):
    # doc2 is the LONGEST member of the {0,1,2} near-dup cluster, so with
    # keep_col it becomes the representative instead of min-id 0; ties
    # (docs 0 and 1 are byte-identical) break toward the smaller id when
    # the longer doc is absent
    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = [base, base, base + " extra", "completely different content here now"]
    from pyspark.sql import functions as F

    docs = _docs(spark, texts).withColumn("score", F.length("text"))
    rows = {
        r["doc_id"]: r
        for r in W.fuzzy_dedup(docs, keep_col="score").collect()
    }
    assert rows["2"]["kept"] == 1 and rows["2"]["cluster_root"] == "0"
    assert rows["0"]["kept"] == 0 and rows["1"]["kept"] == 0
    assert rows["3"]["kept"] == 1
    # tie case: identical docs only -> min id among the tied maxima
    tied = _docs(spark, [base, base]).withColumn("score", F.length("text"))
    rows = {r["doc_id"]: r for r in W.fuzzy_dedup(tied, keep_col="score").collect()}
    assert rows["0"]["kept"] == 1 and rows["1"]["kept"] == 0


def test_fuzzy_dedup_all_unique_keeps_everything(spark):
    # genuinely disjoint at the character-shingle level — a shared sentence
    # template would itself push Jaccard past the threshold
    texts = [
        "alpha bravo charlie delta echo foxtrot",
        "one two three four five six seven eight",
        "zebra yak xylophone walrus vulture toad",
        "quantum plasma neutron electron photon",
    ]
    out = W.fuzzy_dedup(_docs(spark, texts)).collect()
    assert all(r["kept"] == 1 for r in out)
    assert len(out) == 4


# ----------------------------------------------------------------------- pii

PII_TEXTS = [
    "contact jane.doe+spam@example-mail.co.uk or call +1(555)123-4567 now",
    "server at 192.168.100.200 responded, backup at 10.0.0.1",
    "no personal information in this perfectly ordinary sentence",
    "mail root@host.org from 172.16.254.1 phone 08700-100-222",
]


def test_pii_counts(spark):
    rows = {
        r["doc_id"]: r for r in W.pii_metrics(_docs(spark, PII_TEXTS)).collect()
    }
    assert (rows[0]["n_email"], rows[0]["n_phone"], rows[0]["has_pii"]) == (1, 1, 1)
    assert (rows[1]["n_ipv4"], rows[1]["n_email"], rows[1]["has_pii"]) == (2, 0, 1)
    assert rows[2]["has_pii"] == 0
    # 172.16.254.1 (>= 9 chars of digits/dots) also satisfies the phone
    # shape — counts are per-pattern on the original text, overlap documented
    assert (rows[3]["n_email"], rows[3]["n_ipv4"], rows[3]["n_phone"]) == (1, 1, 2)


def test_pii_redaction(spark):
    out = {
        r["doc_id"]: r["text"]
        for r in W.redact_pii(_docs(spark, PII_TEXTS)).collect()
    }
    assert out[0] == "contact <EMAIL> or call <PHONE> now"
    assert out[1] == "server at <IP> responded, backup at <IP>"
    assert out[2] == PII_TEXTS[2]
    assert "<EMAIL>" in out[3] and "<IP>" in out[3] and "<PHONE>" in out[3]


def test_pii_redact_out_col_keeps_original(spark):
    row = W.redact_pii(_docs(spark, [PII_TEXTS[0]]), out_col="red").collect()[0]
    assert row["text"] == PII_TEXTS[0] and "<EMAIL>" in row["red"]


def test_pii_scan_duckdb_parity_on_positive_data(spark, tmp_path):
    """The sf fixture is PII-free (its oracle pins zeros); THIS is the
    value-level cross-engine check on data that actually contains PII —
    same operator, same generated SQL, crafted corpus."""
    import duckdb

    import __spark_entry__ as E

    p = str(tmp_path / "documents.parquet")
    docs = spark.createDataFrame(
        [(i, t, f"src{i % 2}") for i, t in enumerate(PII_TEXTS * 5)],
        "doc_id long, text string, source string",
    )
    docs.toPandas().to_parquet(p)
    sdf = (
        E.queries()["pii_scan"](spark, str(tmp_path))
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    sql = E.oracle_sql()["pii_scan"]
    odf = con.execute(sql).fetchdf().sort_values("source").reset_index(drop=True)
    assert list(sdf.columns) == list(odf.columns)
    for c in sdf.columns:
        assert sdf[c].astype(str).tolist() == odf[c].astype(str).tolist(), c
    assert int(sdf["docs_with_pii"].sum()) == 15  # 3 of 4 texts x 5


# -------------------------------------------------------------- decontaminate

def test_decontaminate_hand_computed(spark):
    bench = _docs(spark, ["one two three four five"])
    corpus = spark.createDataFrame(
        [
            (10, "zero one two three four five six"),
            (11, "totally unrelated text with other words entirely"),
        ],
        "doc_id long, text string",
    )
    out = W.decontaminate(corpus, bench, n=4, ratio_threshold=0.5).collect()
    assert len(out) == 1  # only overlapping docs are emitted
    r = out[0]
    # corpus 4-grams: 4 total, 2 shared ('one two three four','two three four five')
    assert (r["doc_id"], r["n_overlap"], r["n_grams"]) == (10, 2, 4)
    assert r["overlap_ratio"] == 0.5
    assert r["contaminated"] == 1


def test_decontaminate_duplicate_grams_count_once(spark):
    bench = _docs(spark, ["a b c d"])
    corpus = spark.createDataFrame(
        [(5, "a b c d a b c d")], "doc_id long, text string"
    )
    r = W.decontaminate(corpus, bench, n=4, ratio_threshold=0.1).collect()[0]
    # corpus distinct 4-grams: {a b c d, b c d a, c d a b, d a b c} -> 1 hit of 4
    assert (r["n_overlap"], r["n_grams"]) == (1, 4)


# --------------------------------------------------- streaming/batch parity

def test_curation_battery_streaming_batch_parity(spark, tmp_path):
    """The stateless curation ops (gopher_quality, pii_metrics, redact_pii,
    canonical_url, badwords_filter, blocklist_filter) are plain projections,
    so the SAME operator call composes with Structured Streaming unchanged —
    pin bit-equality between a batch run and an availableNow streaming run
    over the same parquet source."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        200
    ).write.parquet(src)

    def battery(df):
        base = df.withColumn(
            "url",
            F.concat(
                F.lit("HTTPS://WWW.Ex.ORG:443/d/"),
                F.col("doc_id").cast("string"),
                F.lit("/?utm_source=s#f"),
            ),
        )
        return (
            W.gopher_quality(W.redact_pii(base))
            .join(W.pii_metrics(base).select("doc_id", "has_pii"), "doc_id")
            .join(
                base.select(
                    "doc_id", W.canonical_url("url").alias("canonical_url")
                ),
                "doc_id",
            )
            .join(W.badwords_filter(base, ["the", "data"]), "doc_id")
            .join(
                W.blocklist_filter(base.select("doc_id", "url"), ["ex.org"])
                .select("doc_id", "host", "blocked"),
                "doc_id",
            )
        )

    batch_in = spark.read.parquet(src)
    expected = sorted(map(tuple, battery(batch_in).collect()))

    stream_in = spark.readStream.schema(batch_in.schema).parquet(src)
    q = (
        battery(stream_in)
        .writeStream.format("memory")
        .queryName("curation_parity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM curation_parity").collect()))
    assert got == expected and len(got) == 200


# ------------------------------------- stratified sampling / sequence packing

def test_stratified_sample_rates_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}", "a" if i % 2 == 0 else "b") for i in range(2000)],
        "doc_id long, text string, source string",
    )
    kept = W.stratified_sample(docs, {"a": 0.25, "b": 0.0}, default_rate=1.0)
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert "b" not in counts  # rate 0 drops the stratum entirely
    assert 150 <= counts["a"] <= 350  # ~25% of 1000, deterministic not exact
    # decisions are per-id hashes: identical at any parallelism
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(
        r["doc_id"]
        for r in W.stratified_sample(
            docs.repartition(13), {"a": 0.25, "b": 0.0}
        ).collect()
    )
    assert a == b


def test_stratified_sample_default_rate_keeps_unlisted(spark):
    docs = spark.createDataFrame(
        [(i, "t", "other") for i in range(50)], "doc_id long, text string, source string"
    )
    assert W.stratified_sample(docs, {"a": 0.1}).count() == 50


def test_pack_sequences_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "w w w", "s"),       # 3 tokens, cum-own=0  -> chunk 0
            (2, "w w w", "s"),       # 3 tokens, cum-own=3  -> chunk 0
            (3, "w w w", "s"),       # 3 tokens, cum-own=6  -> chunk 1
            (4, "", "s"),            # 0 tokens, cum-own=9  -> chunk 1
            (5, "w w", "t"),         # separate group resets -> chunk 0
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source"], r["chunk_id"]): r
        for r in W.pack_sequences(docs, budget_tokens=5).collect()
    }
    assert (rows[("s", 0)]["n_docs"], rows[("s", 0)]["chunk_tokens"]) == (2, 6)
    assert (rows[("s", 1)]["n_docs"], rows[("s", 1)]["chunk_tokens"]) == (2, 3)
    assert (rows[("t", 0)]["n_docs"], rows[("t", 0)]["chunk_tokens"]) == (1, 2)


# ----------------------------------------------------------- NULL-text rows

def test_null_text_rows_are_zero_not_null(spark):
    """SQL-NULL text (real in scraped corpora) must behave as empty, not
    poison counts/flags with NULL (review finding r2)."""
    docs = spark.createDataFrame(
        [(0, None), (1, "the cat sat on the mat")], "doc_id long, text string"
    )
    g = {r["doc_id"]: r for r in W.gopher_quality(docs).collect()}
    assert (g[0]["n_words"], g[0]["passes"]) == (0, 0)
    p = {r["doc_id"]: r for r in W.pii_metrics(docs).collect()}
    assert (p[0]["n_email"], p[0]["has_pii"]) == (0, 0)
    r = {x["doc_id"]: x for x in W.repetition_metrics(docs).collect()}
    assert r[0]["top_2gram_frac"] == 0.0
    u = W.unigram_logprob(docs).collect()
    assert {x["doc_id"] for x in u} == {1}  # NULL doc contributes no tokens
    docs2 = docs.withColumn("source", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("s"))
    packs = W.pack_sequences(docs2, budget_tokens=100).collect()
    assert sum(x["chunk_tokens"] for x in packs) == 6


# --------------------------------------- URL canonicalization / line dedup

def test_canonical_url_cases(spark):
    from pyspark.sql import functions as F

    cases = {
        # case + www + default port + tracking-only query + fragment + slash
        "HTTPS://WWW.X.ORG:443/doc/5/?utm_source=feed#sec": "https://x.org/doc/5",
        # utm first, real param second -> & promoted back to ?
        "https://x.org/doc/5?utm_campaign=x&page=2": "https://x.org/doc/5?page=2",
        # utm last after a real param
        "https://x.org/a?page=2&utm_medium=email": "https://x.org/a?page=2",
        "http://www.x.org:80/a/": "http://x.org/a",
        "https://x.org/clean?page=2": "https://x.org/clean?page=2",
        "https://x.org/a?fbclid=abc123": "https://x.org/a",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["canon"]
        for r in df.select("url", W.canonical_url("url").alias("canon")).collect()
    }
    assert got == cases


def test_latest_capture_picks_newest_with_url_tiebreak(spark):
    rows = [
        ("https://X.org/a?utm_source=f", 1, 10),
        ("https://x.org/a#frag", 2, 11),  # same canonical, newer
        ("https://x.org/a", 3, 11),       # ts tie -> max raw url wins... 'a' < 'a#frag'? no: '#'<'' ordering
        ("https://x.org/b", 4, 5),
    ]
    df = spark.createDataFrame(rows, "url string, doc_id long, fetch_seq long")
    out = {
        r["canonical_url"]: r
        for r in W.latest_capture(
            df, ts_col="fetch_seq", keep_cols=("doc_id",)
        ).collect()
    }
    a = out["https://x.org/a"]
    assert a["n_captures"] == 3 and a["latest_ts"] == 11
    # tie on ts=11 between raw urls 'https://x.org/a#frag' and
    # 'https://x.org/a' -> lexicographic max raw url is the '#frag' one
    assert a["doc_id"] == 2 and a["url"] == "https://x.org/a#frag"
    assert out["https://x.org/b"]["n_captures"] == 1


def test_dedup_lines_removes_boilerplate_preserves_order(spark):
    docs = spark.createDataFrame(
        [
            (0, "header\nalpha\nfooter"),
            (1, "header\nbeta\nfooter"),
            (2, "header\ngamma\nfooter\nheader"),
            (3, "header\nfooter"),  # all boilerplate -> dropped entirely
            (4, None),  # NULL text -> no lines -> dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in W.dedup_lines(docs, max_df=2).collect()}
    # 'header' df=4, 'footer' df=4 (>2) removed; payload lines df=1 kept
    assert set(out) == {0, 1, 2}
    assert out[0]["clean_text"] == "alpha" and out[0]["n_lines_kept"] == 1
    assert out[2]["clean_text"] == "gamma"


def test_dedup_lines_keeps_at_threshold_and_orders_multiline(spark):
    docs = spark.createDataFrame(
        [(0, "z\na\nz"), (1, "q\nr")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in W.dedup_lines(docs, max_df=2).collect()}
    # 'z' df=2 == max_df -> KEPT (strictly-greater removal); order preserved
    assert out[0]["clean_text"] == "z\na\nz" and out[0]["n_lines_kept"] == 3
    assert out[1]["clean_text"] == "q\nr"


def test_lm_quality_buckets_hand_computed(spark):
    # corpus: a a b | b | c  ->  P(a)=P(b)=2/5, P(c)=1/5
    # scores: doc0 = doc1 = ln .4, doc2 = ln .2 ; thresholds at the exact
    # 1/3 and 2/3 interpolated percentiles -> doc2 tail, doc0/doc1 head
    # (strict-< vs th2 == their own score).  Empty doc carries no score.
    out = {
        r["doc_id"]: r["bucket"]
        for r in W.lm_quality_buckets(_docs(spark, ["a a b", "b", "c", ""]))
        .collect()
    }
    assert out == {0: "head", 1: "head", 2: "tail"}


def test_lm_quality_buckets_duckdb_parity_small(spark):
    import duckdb

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    sdf = E.queries()["lm_quality_buckets"](spark, sf).toPandas()
    odf = con.sql(E.oracle_sql()["lm_quality_buckets"]).df()
    cols = sorted(sdf.columns)
    assert cols == sorted(odf.columns)
    s = sdf[cols].sort_values(cols).reset_index(drop=True)
    o = odf[cols].sort_values(cols).reset_index(drop=True).astype(s.dtypes.to_dict())
    assert len(s) == len(o)
    for c in cols:
        if s[c].dtype.kind == "f":
            assert (s[c].round(6) == o[c].round(6)).all(), c
        else:
            assert (s[c] == o[c]).all(), c


def test_remove_dup_spans_cross_doc(spark):
    # docs 0/1 share the exact 8-token span "one..eight" at different
    # offsets; every token covered by the span is excised in BOTH docs
    span = "one two three four five six seven eight"
    out = {
        r["doc_id"]: r
        for r in W.remove_dup_spans(
            _docs(spark, [span + " alpha beta", "zzz " + span, "hello world", ""]),
            k=8,
        ).collect()
    }
    assert (out[0]["n_tokens"], out[0]["n_removed"]) == (10, 8)
    assert out[0]["clean_text"] == "alpha beta"
    assert (out[1]["n_tokens"], out[1]["n_removed"]) == (9, 8)
    assert out[1]["clean_text"] == "zzz"
    # shorter than k: untouched; empty: zero row survives
    assert (out[2]["n_removed"], out[2]["clean_text"]) == (0, "hello world")
    assert (out[3]["n_tokens"], out[3]["clean_text"]) == (0, "")


def test_remove_dup_spans_within_doc_repetition(spark):
    # the SAME doc repeating a span twice counts toward min_count=2
    # (Lee et al. count total occurrences, not distinct docs)
    span = "q1 q2 q3 q4 q5 q6 q7 q8"
    row = W.remove_dup_spans(_docs(spark, [span + " " + span]), k=8).collect()[0]
    assert (row["n_tokens"], row["n_removed"], row["clean_text"]) == (16, 16, "")


def test_remove_dup_spans_matches_python_reference(spark):
    """Randomized cross-check on a tiny alphabet (forces heavy span overlap,
    within-doc repeats, sub-k docs, empty docs) against an independent
    pure-Python implementation of the spec."""
    import random
    from collections import Counter

    rng = random.Random(0)
    alphabet = ["aa", "bb", "cc", "dd", "ee"]
    texts = [
        " ".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 13)))
        for _ in range(60)
    ]
    k, mc = 4, 2

    grams: Counter = Counter()
    toks = [t.split() for t in texts]
    for ts in toks:
        for i in range(len(ts) - k + 1):
            grams[tuple(ts[i : i + k])] += 1
    expected = {}
    for doc_id, ts in enumerate(toks):
        covered: set = set()
        for i in range(len(ts) - k + 1):
            if grams[tuple(ts[i : i + k])] >= mc:
                covered.update(range(i, i + k))
        kept = [t for j, t in enumerate(ts) if j not in covered]
        expected[doc_id] = (len(ts), len(ts) - len(kept), " ".join(kept))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in W.remove_dup_spans(_docs(spark, texts), k=k, min_count=mc).collect()
    }
    assert got == expected


def test_remove_dup_spans_long_docs_chunked_scan(spark):
    """Docs past the 512-token threshold take the two-level (chunked)
    offset scan; multibyte tokens force byte-offsets != char-offsets.
    Cross-checked against the same pure-Python reference."""
    import random
    from collections import Counter

    rng = random.Random(7)
    alphabet = ["aa", "bé", "cc", "dd", "é€e"]
    texts = [
        " ".join(rng.choice(alphabet) for _ in range(n))
        for n in (520, 600, 777, 12, 0)
    ]
    k, mc = 8, 2

    grams: Counter = Counter()
    toks = [t.split() for t in texts]
    for ts in toks:
        for i in range(len(ts) - k + 1):
            grams[tuple(ts[i : i + k])] += 1
    expected = {}
    for doc_id, ts in enumerate(toks):
        covered: set = set()
        for i in range(len(ts) - k + 1):
            if grams[tuple(ts[i : i + k])] >= mc:
                covered.update(range(i, i + k))
        kept = [t for j, t in enumerate(ts) if j not in covered]
        expected[doc_id] = (len(ts), len(ts) - len(kept), " ".join(kept))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in W.remove_dup_spans(_docs(spark, texts), k=k, min_count=mc).collect()
    }
    assert got == expected


def test_host_of_and_blocklist(spark):
    rows = spark.createDataFrame(
        [
            (0, "HTTPS://user:pw@WWW.Tracker.Example.COM:443/x?y#z"),
            (1, "http://ads.tracker.example.com/p"),
            (2, "https://news.example.org/a"),
            (3, "https://www.blog.example.net:8080/b"),
        ],
        "doc_id long, url string",
    )
    out = {
        r["doc_id"]: r
        for r in W.blocklist_filter(rows, ["tracker.example.com"]).collect()
    }
    assert out[0]["host"] == "tracker.example.com" and out[0]["blocked"] == 1
    assert out[1]["host"] == "ads.tracker.example.com" and out[1]["blocked"] == 1
    assert out[2]["blocked"] == 0
    assert out[3]["host"] == "blog.example.net" and out[3]["blocked"] == 0
    kept = W.blocklist_filter(rows, ["tracker.example.com"], keep=True)
    assert {r["doc_id"] for r in kept.collect()} == {2, 3}


def test_blocklist_broadcast_path_matches_or_chain(spark):
    """The two physical shapes (per-row OR chain vs suffix-explode broadcast
    join) must agree row-for-row, including the NULL-url and empty-host
    edges and subdomain-vs-substring distinctions (evilexample.com is NOT
    blocked by example.com)."""
    rows = spark.createDataFrame(
        [
            (0, "https://www.example.com/a"),
            (1, "http://sub.deep.example.com/b"),
            (2, "https://evilexample.com/c"),  # substring, not subdomain
            (3, "https://example.org/d"),
            (4, None),
            (5, "not a url at all"),  # empty host
            (6, "https://ads.net:8080/x"),
        ],
        "doc_id long, url string",
    )
    bl = ["example.com", "ads.net"]
    or_chain = sorted(map(tuple, W.blocklist_filter(rows, bl).collect()))
    bcast = sorted(
        map(tuple, W.blocklist_filter(rows, bl, expr_max_entries=0).collect())
    )
    assert bcast == or_chain
    by_id = {t[0]: t for t in bcast}
    assert by_id[0][-1] == 1 and by_id[1][-1] == 1  # exact + deep subdomain
    assert by_id[2][-1] == 0 and by_id[3][-1] == 0
    assert by_id[6][-1] == 1
    # keep=True drops blocked rows identically in both shapes
    kept = W.blocklist_filter(rows, bl, keep=True, expr_max_entries=0)
    assert {r["doc_id"] for r in kept.collect()} == {2, 3, 5}


def test_blocklist_broadcast_path_at_real_list_size(spark):
    """A C4-sized list (50k entries) — far past any codegen OR chain — runs
    through the broadcast-join path; the plan must contain a
    BroadcastHashJoin and the output must match a pure-Python oracle."""
    blocked = [f"blocked{i}.example{i % 97}.com" for i in range(50_000)]
    urls = (
        [(i, f"https://sub.blocked{i * 7}.example{(i * 7) % 97}.com/x") for i in range(400)]
        + [(1000 + i, f"https://clean{i}.org/y") for i in range(400)]
    )
    rows = spark.createDataFrame(urls, "doc_id long, url string")
    out = W.blocklist_filter(rows, blocked)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    bset = set(blocked)

    def _oracle(url):
        host = url.split("://", 1)[1].split("/", 1)[0]
        parts = host.split(".")
        return int(any(".".join(parts[i:]) in bset for i in range(len(parts))))

    got = {r["doc_id"]: r["blocked"] for r in out.collect()}
    expected = {i: _oracle(u) for i, u in urls}
    assert got == expected
    assert sum(v for k, v in expected.items() if k < 1000) > 0  # some blocked
    assert all(expected[k] == 0 for k in expected if k >= 1000)


def test_badwords_filter_counts_occurrences(spark):
    out = {
        r["doc_id"]: r
        for r in W.badwords_filter(
            _docs(spark, ["Spam and SPAM again", "clean text", ""]),
            words=["spam"],
        ).collect()
    }
    assert (out[0]["n_bad"], out[0]["kept"]) == (2, 0)
    assert (out[1]["n_bad"], out[1]["kept"]) == (0, 1)
    assert (out[2]["n_bad"], out[2]["kept"]) == (0, 1)


def test_badwords_filter_empty_list_keeps_everything(spark):
    out = {
        r["doc_id"]: r
        for r in W.badwords_filter(
            _docs(spark, ["Spam and SPAM again", ""]), words=[]
        ).collect()
    }
    assert (out[0]["n_bad"], out[0]["kept"]) == (0, 1)
    assert (out[1]["n_bad"], out[1]["kept"]) == (0, 1)


def test_curation_funnel_hand_computed(spark):
    # A and B are identical 60-token pages (pass Gopher), C passes Gopher
    # but carries the badword, D is too short.  Span dedup (k=8) wipes the
    # identical survivors A/B entirely; exact dedup collapses their empty
    # cleaned texts into one representative.
    sent = "the quick brown fox jumps over a lazy dog today "
    a = (sent * 6).strip()
    texts = [a, a, a + " bad", "too short"]
    rows = {
        (r["stage"], r["stage_name"]): (r["n_docs"], r["n_tokens"])
        for r in W.curation_funnel(
            _docs(spark, texts), badwords=("bad",)
        ).collect()
    }
    assert rows[(0, "raw")] == (4, 183)
    assert rows[(1, "gopher")] == (3, 181)
    assert rows[(2, "badwords")] == (2, 120)
    assert rows[(3, "span_dedup")] == (2, 0)
    assert rows[(4, "exact_dedup")] == (1, 0)


def test_span_domain_badword_queries_duckdb_parity_small(spark):
    import duckdb

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    for name in ("remove_dup_spans", "domain_block_stats", "badword_filter"):
        sdf = E.queries()[name](spark, sf).toPandas()
        odf = con.sql(E.oracle_sql()[name]).df()
        cols = sorted(sdf.columns)
        assert cols == sorted(odf.columns), name
        s = sdf[cols].sort_values(cols).reset_index(drop=True)
        o = odf[cols].sort_values(cols).reset_index(drop=True)
        assert len(s) == len(o) and s.equals(o.astype(s.dtypes.to_dict())), name


def test_url_line_queries_duckdb_parity_small(spark):
    """Value parity for the two new contract queries at sf0.001 (the driver
    re-checks at sf0.01)."""
    import duckdb

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    for name in ("url_latest_capture", "line_dedup"):
        sdf = E.queries()[name](spark, sf).toPandas()
        odf = con.sql(E.oracle_sql()[name]).df()
        cols = sorted(sdf.columns)
        assert cols == sorted(odf.columns), name
        s = sdf[cols].sort_values(cols).reset_index(drop=True)
        o = odf[cols].sort_values(cols).reset_index(drop=True)
        assert len(s) == len(o) and s.equals(o.astype(s.dtypes.to_dict())), name


# ------------------------------------------------------------ bigram_logprob

def test_bigram_logprob_hand_computed(spark):
    # corpus: "a b a b" | "a b" — bigrams: (a,b)x3, (b,a)x1; contexts:
    # c(a,·)=3, c(b,·)=1; unigrams: c(a)=c(b)=3, tot=6
    # P(b|a) = 0.9*3/3 + 0.1*3/6 = 0.95 ; P(a|b) = 0.9*1/1 + 0.1*3/6 = 0.95
    rows = {
        r["doc_id"]: r
        for r in W.bigram_logprob(_docs(spark, ["a b a b", "a b"])).collect()
    }
    assert rows[0]["n_bigrams"] == 3 and rows[1]["n_bigrams"] == 1
    lp = round(math.log(0.95), 6)
    assert rows[0]["avg_logprob"] == pytest.approx(lp)
    assert rows[1]["avg_logprob"] == pytest.approx(lp)
    assert rows[1]["perplexity"] == pytest.approx(round(math.exp(-math.log(0.95)), 6))


def test_bigram_logprob_excludes_short_docs(spark):
    out = W.bigram_logprob(_docs(spark, ["solo", "", "a b"])).collect()
    assert {r["doc_id"] for r in out} == {2}


def test_bigram_logprob_unseen_context_never_scored(spark):
    # every doc-side bigram exists in the LM by construction; rare
    # continuations score lower than frequent ones
    common = "x y " * 10
    rows = {
        r["doc_id"]: r
        for r in W.bigram_logprob(_docs(spark, [common, "x z"])).collect()
    }
    assert rows[1]["avg_logprob"] < rows[0]["avg_logprob"]


# ------------------------------------------------- quality_classifier_scores

def test_quality_model_training_is_deterministic():
    from entity_resolution_pipeline_spark.functions import quality_model as QM

    w1, b1 = QM.train_quality_classifier()
    w2, b2 = QM.train_quality_classifier()
    assert (w1 == w2).all() and b1 == b2


def test_quality_model_separates_held_out():
    import numpy as np

    from entity_resolution_pipeline_spark.functions import quality_model as QM

    w, b = QM.train_quality_classifier()
    texts, y = QM.synth_labeled_set(n=200, seed=99)  # unseen seed
    p = 1.0 / (1.0 + np.exp(-(QM.featurize(texts) @ w + b)))
    # rank-statistic AUC on the held-out set
    pos, neg = p[y == 1], p[y == 0]
    auc = (pos[:, None] > neg[None, :]).mean()
    assert auc >= 0.98
    assert p[y == 1].mean() > 0.8 and p[y == 0].mean() < 0.2


def test_quality_classifier_scores_match_numpy(spark):
    import numpy as np

    from entity_resolution_pipeline_spark.functions import quality_model as QM

    texts = ["the library of the university", "zzqx vvkw ppty", "single"]
    w, b = QM.train_quality_classifier()
    expected = 1.0 / (1.0 + np.exp(-(QM.featurize(texts) @ w + b)))
    rows = {
        r["doc_id"]: r
        for r in W.quality_classifier_scores(_docs(spark, texts)).collect()
    }
    for i, t in enumerate(texts):
        assert rows[i]["n_grams"] == len(QM.doc_grams(t))
        assert rows[i]["quality_prob"] == pytest.approx(expected[i], abs=1e-6)


def test_quality_classifier_excludes_empty_docs(spark):
    out = W.quality_classifier_scores(_docs(spark, ["", "   ", "a b"])).collect()
    assert {r["doc_id"] for r in out} == {2}


def test_quality_classifier_expr_and_join_paths_agree(spark):
    texts = ["the library of the university", "zzqx vvkw ppty", "single", "a b c d e"]
    expr = sorted(map(tuple, W.quality_classifier_scores(_docs(spark, texts)).collect()))
    join = sorted(
        map(tuple, W.quality_classifier_scores(_docs(spark, texts), method="join").collect())
    )
    assert expr == join


def test_quality_classifier_expr_is_shuffle_free_and_streams(spark, tmp_path):
    # stateless projection: no Exchange in the plan, and the SAME call runs
    # under Structured Streaming with bit-equal output
    src = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100).write.parquet(src)
    batch_in = spark.read.parquet(src)
    plan = W.quality_classifier_scores(batch_in)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    expected = sorted(map(tuple, W.quality_classifier_scores(batch_in).collect()))
    stream_in = spark.readStream.schema(batch_in.schema).parquet(src)
    q = (
        W.quality_classifier_scores(stream_in)
        .writeStream.format("memory")
        .queryName("qc_parity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM qc_parity").collect()))
    assert got == expected and len(got) == 100


# ------------------------------------------------------------- html_to_text

def test_html_to_text_hand_computed(spark):
    html = (
        '<html><head><title>T</title><script>var x = "<p>ignore</p>";</script>'
        "<style>.a{}</style></head><body><!-- c --><h1>Head</h1>"
        "<p>one &amp; two</p><ul><li>a</li><li>b</li></ul>tail</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    out = W.html_to_text(df).collect()[0]["extracted_text"]
    assert out == "T Head\none & two\na\nb\ntail"


def test_html_to_text_entities_and_binary(spark):
    html = "<p>&lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b &amp;amp;</p>"
    df = spark.createDataFrame([(1, html.encode())], "doc_id long, html binary")
    out = W.html_to_text(df).collect()[0]["extracted_text"]
    # &amp; decodes LAST: '&amp;amp;' -> '&amp;' literal, not '&'
    assert out == "<tag> \"q\" 's' a b &amp;"


def test_html_to_text_null_and_plain(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "no tags at all")], "doc_id long, html string"
    )
    rows = {r["doc_id"]: r["extracted_text"] for r in W.html_to_text(df).collect()}
    assert rows[1] == "" and rows[2] == "no tags at all"


# ------------------------------------------------- incremental_fuzzy_dedup

def test_incremental_fuzzy_dedup_flags_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = _docs(spark, [base, "completely unrelated corpus text about quantum plasma"])
    new = spark.createDataFrame(
        [
            (100, base),                                   # exact dup of corpus 0
            (101, base + " extra"),                        # near dup of corpus 0
            (102, "fresh never seen sentence with original words entirely"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in W.incremental_fuzzy_dedup(new, corpus).collect()}
    assert rows[100]["kept"] == 0 and rows[100]["n_corpus_matches"] >= 1
    assert rows[101]["kept"] == 0
    assert rows[102]["kept"] == 1 and rows[102]["n_corpus_matches"] == 0


def test_incremental_fuzzy_dedup_no_new_x_new_pairs(spark):
    # two identical NEW docs with no corpus counterpart must BOTH be kept —
    # the cross join never pairs new with new
    corpus = _docs(spark, ["totally different corpus content here now"])
    twin = "the same brand new sentence appearing twice in the snapshot"
    new = spark.createDataFrame(
        [(200, twin), (201, twin)], "doc_id long, text string"
    )
    out = W.incremental_fuzzy_dedup(new, corpus).collect()
    assert all(r["kept"] == 1 for r in out) and len(out) == 2


def test_fuzzy_flags_broadcast_pair_path_parity(spark):
    # the zero-shuffle broadcast kernel and the pair-materializing fallback
    # must agree row-for-row (same candidates, same estimate floor, same
    # exact-Jaccard boundary) on a mix of exact dups, near dups, short docs
    # (empty shingle set -> no band keys) and novel text
    from entity_resolution_pipeline_spark.operators.dedup import (
        fuzzy_flags_against_corpus,
    )

    base = "shared crawl paragraph with many overlapping shingles inside it"
    corpus = _docs(
        spark,
        [base, base + " trailing", "unrelated corpus document entirely", "ab"],
    )
    new = spark.createDataFrame(
        [
            (100, base),
            (101, base + " extra tail words"),
            (102, "never seen novel content with fresh vocabulary"),
            (103, "x"),  # shorter than the shingle window: no keys, kept
            (104, None),
        ],
        "doc_id long, text string",
    )
    bc = sorted(
        tuple(r) for r in fuzzy_flags_against_corpus(new, corpus).collect()
    )
    pp = sorted(
        tuple(r)
        for r in fuzzy_flags_against_corpus(
            new, corpus, corpus_artifact=None
        ).collect()
    )
    assert bc == pp and len(bc) == 5
    kept = {t[0]: t[2] for t in bc}
    assert kept[100] == 0 and kept[101] == 0
    assert kept[102] == 1 and kept[103] == 1 and kept[104] == 1


def test_minhash_cross_matches_self_join_on_cross_pairs(spark):
    # the cross pairs of two feature tables (the fuzzy flagging fallback's
    # pair path) must be exactly the self-join's pairs restricted to one id
    # from each side
    from entity_resolution_pipeline_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = [base, base + " tail", "alpha bravo charlie delta echo foxtrot golf hotel india"]
    docs = _docs(spark, texts)

    def feats(df):
        return D._minhash_feats(df, "doc_id", "text", 64, D.MINHASH_SHINGLE_K, 16)

    a = docs.where("doc_id IN (0, 2)")
    b = docs.where("doc_id = 1")
    cross = {
        (r["left_id"], r["right_id"], r["jaccard"])
        for r in D._verified_pairs(feats(a), feats(b), 64, 0.5).collect()
    }
    full = {
        (r["left_id"], r["right_id"], r["jaccard"])
        for r in D.minhash_lsh_pairs(docs).collect()
    }
    expected = {
        (l, r, j) for (l, r, j) in full
        if (l in (0, 2)) != (r in (0, 2))  # one endpoint per side
    }
    # cross emits (left=a, right=b) orientation; normalize to (min, max)
    norm = {(min(l, r), max(l, r), j) for (l, r, j) in cross}
    expected = {(min(l, r), max(l, r), j) for (l, r, j) in expected}
    assert norm == expected and len(norm) >= 1


# ------------------------------------------------------- heavy_hitter_words

def test_heavy_hitter_words_hand_computed(spark):
    # 10 tokens: 'the' x4 (0.4), 'cat' x3 (0.3), 'dog' x2, 'x' x1
    docs = _docs(spark, ["the the cat dog", "the cat x", "the cat dog"])
    out = {r["w"]: (r["cnt"], r["frac"]) for r in
           W.heavy_hitter_words(docs, support=0.25).collect()}
    assert out == {"the": (4, 0.4), "cat": (3, 0.3)}


def test_heavy_hitter_words_strict_threshold(spark):
    # 'dog' is exactly at support*total (2/10 = 0.2): strictly-above excludes it
    docs = _docs(spark, ["the the cat dog", "the cat x", "the cat dog"])
    words = {r["w"] for r in W.heavy_hitter_words(docs, support=0.2).collect()}
    assert "dog" not in words and {"the", "cat"} <= words


def test_heavy_hitter_words_deterministic_across_partitioning(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, W.heavy_hitter_words(docs.repartition(1), support=0.005).collect()))
    b = sorted(map(tuple, W.heavy_hitter_words(docs.repartition(16), support=0.005).collect()))
    assert a == b and len(a) > 0
