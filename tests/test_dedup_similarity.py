"""Dedup operator tests with pure-Python oracles."""

from __future__ import annotations

import hashlib

import pytest

from pregel_golang_implementation_spark.operators.dedup import (
    exact_duplicates,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
    word_shingles,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "x"),
    (1, "the quick brown fox jumps over the lazy dog", "x"),  # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog", "x"),  # near dup
    (3, "der hund und die katze sind nicht das problem", "x"),
    (4, "completely unrelated text about spark engines", "x"),
    (5, "", "x"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def _py_shingles(text, n=3):
    toks = text.strip().lower().split()
    if len(toks) >= n:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)}


def test_exact_duplicates(spark, docs):
    out = {r["content_hash"]: r for r in exact_duplicates(docs).collect()}
    h = hashlib.md5(DOCS[0][1].encode()).hexdigest()
    assert out[h]["n_docs"] == 2 and out[h]["canonical_id"] == 0


def test_word_shingles_match_python(spark, docs):
    got = {}
    for r in word_shingles(docs, n=3).collect():
        got.setdefault(r["doc_id"], set()).add(r["shingle"])
    for did, text, _ in DOCS:
        assert got.get(did, set()) == _py_shingles(text), did


def test_minhash_identical_docs_share_all_bands(spark, docs):
    sig = minhash_signatures(word_shingles(docs, n=3), num_hashes=16)
    rows = {(r["doc_id"], r["seed"]): r["minhash"] for r in sig.collect()}
    for s in range(16):
        assert rows[(0, s)] == rows[(1, s)]
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             lsh_candidate_pairs(lsh_bands(sig, rows_per_band=4)).collect()}
    assert (0, 1) in pairs
    # near-dup (2) should share at least one band with 0/1 at 16x4
    # (not asserted — probabilistic); unrelated docs must NOT pair
    assert (3, 4) not in pairs


def test_ngram_jaccard_values(spark, docs):
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           ngram_jaccard(docs, shingle_n=3).collect()}
    assert out[(0, 1)] == pytest.approx(1.0)
    a, b = _py_shingles(DOCS[0][1]), _py_shingles(DOCS[2][1])
    want = len(a & b) / len(a | b)
    assert out[(0, 2)] == pytest.approx(want)
    assert (3, 4) not in out  # zero overlap → no row


def test_simhash_near_dups_close(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
    assert out[0] == out[1]
    ham = bin(out[0] ^ out[2]).count("1")
    ham_far = bin(out[0] ^ out[4]).count("1")
    assert ham <= ham_far
