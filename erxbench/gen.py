"""Seeded inputs for the three benchmark workloads.

Everything here is a pure function of (seed, size): the same seed gives
byte-identical inputs, a different seed gives different inputs of the same
size.  The program under test only ever sees the generated tables.

* ``er_page_indices`` — a seed-chosen window of ``synth.page_for_index``
  catalog pages (5 records per planted entity).
* ``corpus`` — a web-text corpus with three kinds of documents:
  exact-duplicate family members, planted near-duplicate copies whose exact
  character-5-shingle Jaccard is computed here and is well above 0.5, and a
  non-duplicate background drawn from a large Zipf vocabulary.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np

RECORDS_PER_ENTITY = 5
SHINGLE_K = 5

_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na", "pe",
    "ri", "so", "tu", "va", "we", "xi", "yo", "za", "bra", "cle", "dri",
    "fla", "gre", "kro", "pla", "sti", "tro", "vel", "mor", "nis", "tal",
    "ren", "dus", "lim", "qua", "sen", "tor", "zel",
]
# Gopher's stopword gate needs >= 2 of these per page, and the snapshot
# workload runs that gate.
_STOPWORDS = [
    "the", "of", "and", "to", "in", "that", "is", "was", "for", "on",
    "with", "as", "by", "at", "be", "it",
]
# The parameters below are design choices, not measurements of any real
# crawl.  They are set so that each mechanism of fuzzy_dedup carries load:
# the exact share feeds the md5 pre-collapse, the near share gives the
# verify a set of true pairs to find, and the shared stopwords and Zipf
# head give the background band collisions that the estimate gate and the
# exact verify must reject.  README.md records the split they produce.
STOPWORD_RATE = 0.25
VOCAB_SIZE = 20_000
ZIPF_S = 1.05
MIN_WORDS, MAX_WORDS = 60, 140
EXACT_SHARE = 0.15      # docs that are byte-identical copies of a background doc
NEAR_SHARE = 0.20       # docs that are planted near-duplicate copies
NEAR_EDIT_RATE = 0.09   # share of word positions rewritten in a near copy
NEAR_MIN_JACCARD = 0.6


def er_page_indices(seed: int, n_records: int) -> range:
    """Absolute ``synth.page_for_index`` indices of the ER input: a whole
    number of entities starting at a seed-chosen entity offset."""
    n_entities = n_records // RECORDS_PER_ENTITY
    offset = random.Random(seed * 7919 + 1).randrange(0, 50_000)
    start = offset * RECORDS_PER_ENTITY
    return range(start, start + n_entities * RECORDS_PER_ENTITY)


def er_pages_checksum(seed: int, n_records: int) -> str:
    """md5 of the (url, text) rows of the ER input pages."""
    from entity_resolution_pipeline_spark import synth

    pages = [synth.page_for_index(i) for i in er_page_indices(seed, n_records)]
    return checksum([p["url"] for p in pages], [p["text"] for p in pages])


def shingles(text: str, k: int = SHINGLE_K) -> set[bytes]:
    """Character k-shingles under the MinHash operator's windowing (one
    space of padding each side, UTF-8 bytes of the lowercased text) — kept
    as raw byte strings, so Jaccard computed from them is exact."""
    data = f" {text.lower()} ".encode("utf-8")
    return {data[i : i + k] for i in range(len(data) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def _vocab(rng: np.random.Generator) -> list[str]:
    words: list[str] = []
    seen = set(_STOPWORDS)
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def corpus(seed: int, n_docs: int) -> dict:
    """Generate the document corpus.

    Returns ``{"doc_id": [...], "text": [...], "near_pairs": [(a, b, j)],
    "families": [[ids]]}``: ``doc_id`` is 1..n_docs in a seeded order,
    ``near_pairs`` are planted (source, copy, exact Jaccard) pairs with
    j >= NEAR_MIN_JACCARD, ``families`` are the exact-duplicate groups (a
    background source plus its byte-identical copies)."""
    rng = np.random.default_rng([seed, 0xC0DE])
    vocab = _vocab(rng)
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S)
    cdf /= cdf[-1]

    def words(n: int) -> list[str]:
        picks = np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB_SIZE - 1)
        out = [vocab[int(i)] for i in picks]
        stop = rng.random(n) < STOPWORD_RATE
        for i in np.flatnonzero(stop):
            out[i] = _STOPWORDS[int(rng.integers(0, len(_STOPWORDS)))]
        return out

    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_base = n_docs - n_exact - n_near
    texts: list[str] = []
    for _ in range(n_base):
        texts.append(" ".join(words(int(rng.integers(MIN_WORDS, MAX_WORDS + 1)))))

    # exact-duplicate families: 1..4 byte-identical copies of a base doc
    family_of: dict[int, list[int]] = {}
    while len(texts) < n_base + n_exact:
        src = int(rng.integers(0, n_base))
        for _ in range(min(int(rng.integers(1, 5)), n_base + n_exact - len(texts))):
            family_of.setdefault(src, [src]).append(len(texts))
            texts.append(texts[src])

    # near-duplicate copies: rewrite a few word positions of a base doc
    near: list[tuple[int, int, float]] = []
    while len(texts) < n_docs:
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        edits = max(1, int(round(len(toks) * NEAR_EDIT_RATE)))
        for pos in rng.choice(len(toks), size=edits, replace=False):
            toks[int(pos)] = words(1)[0]
        copy = " ".join(toks)
        j = jaccard(texts[src], copy)
        if j < NEAR_MIN_JACCARD or copy == texts[src]:
            continue
        near.append((src, len(texts), j))
        texts.append(copy)

    order = rng.permutation(n_docs)  # position -> doc_id - 1
    ids = [int(order[i]) + 1 for i in range(n_docs)]
    return {
        "doc_id": ids,
        "text": texts,
        "near_pairs": [(ids[a], ids[b], j) for a, b, j in near],
        "families": [[ids[i] for i in fam] for fam in family_of.values()],
    }


def checksum(*columns) -> str:
    """md5 over the row-wise rendering of equal-length columns."""
    h = hashlib.md5()
    for row in zip(*columns):
        h.update(repr(row).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()
