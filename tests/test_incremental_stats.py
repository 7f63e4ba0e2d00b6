"""Incremental corpus stats: merged partials must agree with the one-shot
batch report — exactly for additive metrics, within known resolution for
the sketched ones."""

from __future__ import annotations

from pyspark.sql import functions as F

from schemamap_spark.operators.curation import (
    append_corpus_stats,
    corpus_report,
    corpus_stats_report,
)
from schemamap_spark.session import load_table

from conftest import SF001 as SF


def test_merged_partials_match_full_batch(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "stats_store")
    for i in range(3):
        append_corpus_stats(docs.filter(F.col("doc_id") % 3 == i), store, f"day{i}")

    merged = {r.group: r.asDict() for r in corpus_stats_report(spark, store).collect()}
    full = {r.source: r.asDict() for r in corpus_report(docs).collect()}
    assert set(merged) == set(full)
    for g, m in merged.items():
        f = full[g]
        # additive metrics: exact
        assert (m["docs"], m["tokens"], m["chars"]) == (f["docs"], f["tokens"], f["chars"])
        # integer-micros mean vs float avg: micro-rounding only
        assert abs(m["quality_mean"] - f["quality_mean"]) < 1e-5
        # histogram quantile vs approx_percentile: both approximate the same
        # exact percentile; allow 2 bins + sketch slack
        assert abs(m["quality_p50"] - f["quality_p50"]) < 0.01
        # dup ratio stays clamped and sane
        assert 0.0 <= m["approx_dup_ratio"] <= 1.0


def test_null_text_docs_match_batch_report_semantics(spark, tmp_path):
    """NULL-text docs count in `docs` but not in the quality mean or the
    histogram — the one-shot corpus_report's avg(_q)/approx_percentile skip
    NULLs, and the incremental twin must agree beyond micro-rounding (the
    old q_micros/docs divided by ALL docs, silently deflating the mean; the
    old histogram even binned NULL quality into the TOP bin via least())."""
    docs = spark.createDataFrame(
        [(1, "a solid, reasonably long document text.", "s"),
         (2, None, "s"),
         (3, "another ordinary document body with words.", "s"),
         (4, None, "s")],
        "doc_id long, text string, source string",
    )
    store = str(tmp_path / "stats_store")
    append_corpus_stats(docs.filter("doc_id <= 2"), store, "b0")
    append_corpus_stats(docs.filter("doc_id > 2"), store, "b1")
    m = corpus_stats_report(spark, store).collect()[0]
    f = corpus_report(docs).collect()[0]
    assert m.docs == f.docs == 4
    assert abs(m.quality_mean - f.quality_mean) < 1e-5
    assert abs(m.quality_p90 - f.quality_p90) < 0.01  # no NULLs in top bin

    # an all-NULL group reports NULL mean, exactly like avg() would
    ghosts = spark.createDataFrame([(9, None, "g")], "doc_id long, text string, source string")
    store2 = str(tmp_path / "ghost_store")
    append_corpus_stats(ghosts, store2, "b0")
    g = corpus_stats_report(spark, store2).collect()[0]
    assert g.docs == 1 and g.quality_mean is None


def test_torn_append_detected(spark, tmp_path):
    """A crash between the two store writes (hist first, scalars last by
    contract) leaves a scalars batch with quality docs but no histogram
    rows — the report must raise and name the batch, never serve quantiles
    computed over fewer batches than the means."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a perfectly fine document with words.", "s")],
        "doc_id long, text string, source string",
    )
    store = str(tmp_path / "stats_store")
    append_corpus_stats(docs, store, "b0")
    # simulate the torn batch: scalars committed, hist rows lost
    from schemamap_spark.operators.curation import corpus_stats_partials

    scalars, _hist = corpus_stats_partials(docs, "b1")
    scalars.write.mode("append").parquet(f"{store}/scalars")
    with pytest.raises(ValueError, match=r"torn.*b1"):
        corpus_stats_report(spark, store)

    # but an all-NULL-quality batch legitimately has no hist rows: no raise
    ghosts = spark.createDataFrame(
        [(9, None, "s")], "doc_id long, text string, source string"
    )
    store2 = str(tmp_path / "ok_store")
    append_corpus_stats(docs, store2, "b0")
    append_corpus_stats(ghosts, store2, "b1")
    assert corpus_stats_report(spark, store2).collect()[0].docs == 2


def test_uncommitted_hist_excluded_and_reappend_idempotent(spark, tmp_path):
    """The ACTUAL crash window (hist lands, scalars doesn't — the write
    order) must leave the dashboard untouched: orphan hist rows stay out
    of the quantiles, the report does NOT raise (this is the recoverable
    direction), and re-appending the torn batch — the documented recovery
    — counts it exactly once despite the duplicated hist rows."""
    lo = spark.createDataFrame(
        [(i, "short txt!!", "s") for i in range(20)],
        "doc_id long, text string, source string",
    )
    hi = spark.createDataFrame(
        [(100 + i,
          "a genuinely substantial, well punctuated document body with many "
          "ordinary words that scores high on every quality heuristic.", "s")
         for i in range(20)],
        "doc_id long, text string, source string",
    )
    from schemamap_spark.operators.curation import corpus_stats_partials

    store = str(tmp_path / "crash_store")
    append_corpus_stats(lo, store, "b0")
    # crash simulation: b1's hist write landed, scalars never committed
    _scalars, hist = corpus_stats_partials(hi, "b1")
    hist.write.mode("append").parquet(f"{store}/hist")

    clean = str(tmp_path / "clean_store")
    append_corpus_stats(lo, clean, "b0")
    got = corpus_stats_report(spark, store).collect()[0]
    want = corpus_stats_report(spark, clean).collect()[0]
    assert got.docs == want.docs == 20
    # the orphan high-quality hist rows must not drag p90 up
    assert got.quality_p90 == want.quality_p90

    # recovery: re-append b1 in full — its hist rows now exist TWICE, but
    # the report collapses them; compare against a never-crashed store
    append_corpus_stats(hi, store, "b1")
    append_corpus_stats(hi, clean, "b1")
    got2 = corpus_stats_report(spark, store).collect()[0]
    want2 = corpus_stats_report(spark, clean).collect()[0]
    assert got2.docs == want2.docs == 40
    assert (got2.quality_p10, got2.quality_p50, got2.quality_p90) == (
        want2.quality_p10, want2.quality_p50, want2.quality_p90
    )
    assert got2.quality_mean == want2.quality_mean

    # defensive: a FULLY re-appended committed batch (operator retry after
    # a commit that actually landed) is also idempotent, scalars included
    append_corpus_stats(hi, store, "b1")
    got3 = corpus_stats_report(spark, store).collect()[0]
    assert got3.docs == 40 and got3.quality_p90 == want2.quality_p90


def test_sketch_merge_equals_one_shot_ndv(spark, tmp_path):
    """The HLL component must merge exactly: 3-way-split union == single
    sketch over everything (register max is split-insensitive)."""
    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "s2")
    for i in range(3):
        append_corpus_stats(docs.filter(F.col("doc_id") % 3 == i), store, f"b{i}")
    merged = {
        r.group: r.approx_unique_texts
        for r in corpus_stats_report(spark, store).collect()
    }
    one = {
        r.group: r.ndv
        for r in docs.withColumn("_fp", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy(F.col("source").alias("group"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("_fp")).alias("ndv"))
        .collect()
    }
    assert merged == one


def test_duplicate_injection_moves_the_needle(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "s3")
    append_corpus_stats(docs, store, "b0")
    append_corpus_stats(docs, store, "b1")  # the same corpus again: 50% dups
    rep = corpus_stats_report(spark, store).collect()
    for r in rep:
        assert r.approx_dup_ratio > 0.4, r.group
