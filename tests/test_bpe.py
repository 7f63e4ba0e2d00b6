"""BPE tokenization: hand-computed merge sequence, lossless roundtrip,
driver/distributed agreement, determinism."""

from __future__ import annotations

import pytest

from schemamap_spark.operators.bpe import (
    END,
    _encode_word,
    bpe_decode_tokens,
    bpe_tokenize,
    bpe_train,
)
from schemamap_spark.session import load_table

from conftest import SF001

CLASSIC = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)


def test_bpe_train_classic_merge_sequence(spark):
    """The Sennrich worked example: pair counts are (e,s)=(s,t)=(t,</w>)=9,
    then (l,o)=(o,w)=7 — with lexicographic tie-breaks the merge order is
    fully determined."""
    docs = spark.createDataFrame([(1, CLASSIC)], "doc_id long, text string")
    merges = bpe_train(docs, num_merges=10)
    assert merges[:5] == [
        ("e", "s"), ("es", "t"), ("est", END), ("l", "o"), ("lo", "w"),
    ]
    # an UNSEEN word segments into the learned subwords
    rank = {m: i for i, m in enumerate(merges)}
    assert _encode_word("lowest" + END, rank) == ["low", "est" + END]


def test_bpe_tokenize_roundtrip_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, CLASSIC), (2, "low lowest"), (3, ""), (4, "zzz")],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, num_merges=10)
    out = {r.doc_id: r for r in bpe_tokenize(docs, merges).collect()}
    # lossless modulo whitespace normalization (empty words dropped)
    expect = {1: CLASSIC, 2: "low lowest", 4: "zzz"}
    for i in (1, 2, 4):
        assert bpe_decode_tokens(out[i].bpe_tokens) == expect[i]
    assert out[3].bpe_tokens == [] and out[3].bpe_token_count == 0
    # "low" is frequent enough that (low, </w>) itself merged; "lowest" is
    # unseen and segments into learned subwords
    assert out[2].bpe_tokens == ["low" + END, "low", "est" + END]
    assert all(r.bpe_token_count == len(r.bpe_tokens) for r in out.values())


def test_bpe_distributed_equals_driver_encoding(spark):
    docs = load_table(spark, SF001, "documents").limit(50)
    merges = bpe_train(docs, num_merges=50, sample_docs=50)
    rank = {m: i for i, m in enumerate(merges)}
    got = {r.doc_id: r.bpe_tokens for r in bpe_tokenize(docs, merges).collect()}
    for row in docs.collect():
        want = [
            s for w in (row.text or "").split(" ") if w
            for s in _encode_word(w + END, rank)
        ]
        assert got[row.doc_id] == want, row.doc_id


def test_bpe_train_deterministic_and_validated(spark):
    docs = load_table(spark, SF001, "documents")
    m1 = bpe_train(docs, num_merges=30, sample_docs=40)
    m2 = bpe_train(docs, num_merges=30, sample_docs=40)
    assert m1 == m2
    with pytest.raises(ValueError, match="num_merges"):
        bpe_train(docs, num_merges=0)
    empty = spark.createDataFrame([(1, "")], "doc_id long, text string")
    with pytest.raises(ValueError, match="no words"):
        bpe_train(empty, num_merges=5)
