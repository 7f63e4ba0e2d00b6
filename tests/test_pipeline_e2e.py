"""End-to-end training-data pipeline composition: the round-5 operators
chain into the full corpus-building flow without interface friction —
line dedup → hygiene/dedup/splits → DSIR selection → BPE tokenization →
sequence packing — and every stage's invariants survive composition."""

from __future__ import annotations

from pyspark.sql import functions as F

from schemamap_spark.operators.bpe import bpe_tokenize, bpe_train
from schemamap_spark.operators.curation import curate_corpus
from schemamap_spark.operators.dedup import drop_repeated_lines
from schemamap_spark.operators.dsir import dsir_select
from schemamap_spark.operators.packing import pack_sequences
from schemamap_spark.session import load_table

from conftest import SF001 as SF


def test_full_training_pipeline_composes(spark):
    docs = load_table(spark, SF, "documents")
    n0 = docs.count()

    # 1. boilerplate line removal (single-line fixture docs: only literal
    #    full-text duplicates can exceed the df guard)
    clean = drop_repeated_lines(docs, max_doc_freq=3).join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    )
    assert clean.count() == n0  # no docs lost, only lines

    # 2. hygiene + dedup + splits
    curated = curate_corpus(clean, quality_min=0.1, jaccard_threshold=0.8)
    n2 = curated.count()
    assert 0 < n2 <= n0
    assert set(curated.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }

    # 3. DSIR: keep the half most like the src0/src1 slice
    targ = curated.filter(F.col("source").isin("src0", "src1"))
    cand = curated.filter(~F.col("source").isin("src0", "src1"))
    n_sel = max(1, cand.count() // 2)
    picked = dsir_select(cand, targ, n_sel)
    assert picked.count() == n_sel
    selected = curated.join(picked.select("doc_id"), "doc_id").unionByName(targ)

    # 4. BPE over the selected corpus; subword counts feed the packer
    merges = bpe_train(selected, num_merges=64, sample_docs=200)
    toks = bpe_tokenize(selected, merges)
    assert toks.filter(F.col("bpe_token_count") <= 0).count() == 0

    # 5. pack into 256-subword training sequences on REAL token counts
    with_counts = selected.join(toks.select("doc_id", "bpe_token_count"), "doc_id")
    packed = pack_sequences(
        with_counts, max_tokens=256, tokens_col="bpe_token_count"
    )
    assert packed.count() == selected.count()  # every doc assigned exactly once
    over = packed.filter("oversize")
    fits = packed.join(over.select("seq_id"), "seq_id", "left_anti")
    bad = fits.groupBy("seq_id").agg(F.sum("n_tokens").alias("t")).filter(
        F.col("t") > 256
    )
    assert bad.count() == 0  # budget holds for every non-oversize sequence
