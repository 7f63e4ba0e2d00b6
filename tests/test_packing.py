"""Sequence packing: bucket-local first-fit-decreasing bin packing.

Invariants pinned: every doc assigned exactly once, no sequence over budget
(except dedicated oversize bins), determinism across runs/partitionings,
FFD optimality on a crafted instance, utilization accounting.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from schemamap_spark.operators.packing import pack_sequences, packing_stats
from schemamap_spark.session import load_table

from conftest import SF001 as SF


def _docs(spark, sizes):
    rows = [(i, " ".join(["tok"] * n)) for i, n in enumerate(sizes)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_every_doc_assigned_once_and_budget_respected(spark):
    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    asg = pack_sequences(docs, max_tokens=256, buckets=8)
    assert asg.count() == n_docs
    assert asg.select("doc_id").distinct().count() == n_docs

    per_seq = asg.groupBy("seq_id").agg(
        F.sum("n_tokens").alias("total"),
        F.first("seq_tokens").alias("reported"),
        F.count(F.lit(1)).alias("n"),
        F.max(F.col("oversize").cast("int")).alias("over"),
    )
    bad = per_seq.filter(
        ((F.col("over") == 0) & (F.col("total") > 256))
        | ((F.col("over") == 1) & (F.col("n") != 1))
        | (F.col("total") != F.col("reported"))
    )
    assert bad.count() == 0


def test_packing_is_deterministic_under_repartition(spark):
    docs = load_table(spark, SF, "documents")
    a = sorted(
        (r.doc_id, r.seq_id) for r in pack_sequences(docs, 512, buckets=4).collect()
    )
    b = sorted(
        (r.doc_id, r.seq_id)
        for r in pack_sequences(docs.repartition(13), 512, buckets=4).collect()
    )
    assert a == b and len(a) > 0


def test_ffd_packs_crafted_instance_optimally(spark):
    # sizes 6,5,4,3,2 with budget 10 -> FFD: [6,4], [5,3,2] = 2 full bins
    docs = _docs(spark, [6, 5, 4, 3, 2])
    asg = pack_sequences(docs, max_tokens=10, buckets=1)
    seqs = {r.seq_id: r.seq_tokens for r in asg.collect()}
    assert len(set(seqs)) == 2
    assert sorted(seqs.values()) == [10, 10]

    stats_df = packing_stats(asg, 10)
    # the 1-row docs aggregate must join as a broadcast, never a
    # CartesianProduct of big × 1 (plan hygiene at scale)
    plan = stats_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    stats = stats_df.collect()[0]
    assert (stats.sequences, stats.docs, stats.oversize_sequences) == (2, 5, 0)
    assert stats.utilization == 1.0


def test_oversize_docs_get_dedicated_flagged_sequences(spark):
    docs = _docs(spark, [30, 3, 3])
    asg = pack_sequences(docs, max_tokens=10, buckets=1)
    rows = {r.doc_id: r for r in asg.collect()}
    assert rows[0].oversize and rows[0].seq_tokens == 30
    assert not rows[1].oversize and not rows[2].oversize
    # the two small docs share a bin; the oversize one is alone
    assert rows[1].seq_id == rows[2].seq_id != rows[0].seq_id
    stats = packing_stats(asg, 10).collect()[0]
    assert stats.oversize_sequences == 1 and stats.sequences == 2
    assert stats.utilization == 0.6  # 6 of 10 capacity in the one regular bin


def test_precomputed_token_column(spark):
    docs = spark.createDataFrame(
        [(1, 7), (2, 4), (3, 2)], "doc_id long, toks int"
    )
    asg = pack_sequences(docs, max_tokens=10, tokens_col="toks", buckets=1)
    assert {r.doc_id: r.n_tokens for r in asg.collect()} == {1: 7, 2: 4, 3: 2}
    # 7 opens bin0 (rem 3); 4 doesn't fit -> bin1 (rem 6); 2 fits bin0
    by_doc = {r.doc_id: r.seq_local for r in asg.collect()}
    assert by_doc[1] == by_doc[3] != by_doc[2]


def test_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert pack_sequences(docs, 128).count() == 0


def test_null_text_packs_as_zero_tokens(spark):
    docs = spark.createDataFrame([(1, "a b c"), (2, None)], "doc_id long, text string")
    rows = {r.doc_id: r for r in pack_sequences(docs, 10, buckets=1).collect()}
    assert rows[2].n_tokens == 0 and not rows[2].oversize
    assert len(rows) == 2


def test_all_oversize_stats_degrade_to_null_utilization(spark):
    docs = _docs(spark, [50, 60])
    asg = pack_sequences(docs, max_tokens=10, buckets=1)
    stats = packing_stats(asg, 10).collect()[0]
    assert stats.oversize_sequences == 2 and stats.utilization is None


class TestChunking:
    def test_chunks_cover_all_tokens_with_overlap(self, spark):
        from schemamap_spark.operators.packing import chunk_documents

        text = " ".join(f"t{i}" for i in range(25))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            chunk_documents(docs, chunk_tokens=10, overlap=2).collect(),
            key=lambda r: r.chunk_no,
        )
        # stride 8: starts 0,8,16 -> 3 chunks; last has tokens 16..24 (9)
        assert [r.chunk_no for r in rows] == [0, 1, 2]
        assert all(r.n_chunks == 3 for r in rows)
        assert [r.chunk_tokens for r in rows] == [10, 10, 9]
        toks = text.split(" ")
        for r in rows:
            start = r.chunk_no * 8
            assert r.chunk_text == " ".join(toks[start : start + 10])
        # consecutive chunks share exactly `overlap` tokens
        assert rows[0].chunk_text.split(" ")[-2:] == rows[1].chunk_text.split(" ")[:2]

    def test_short_doc_single_chunk(self, spark):
        from schemamap_spark.operators.packing import chunk_documents

        docs = spark.createDataFrame(
            [(1, "just four tokens here"), (2, None)], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in chunk_documents(docs, 256, 32).collect()}
        assert rows[1].n_chunks == 1 and rows[1].chunk_text == "just four tokens here"
        assert rows[2].n_chunks == 1  # null text -> one empty chunk, no crash

    def test_exact_boundary_no_empty_tail_chunk(self, spark):
        from schemamap_spark.operators.packing import chunk_documents

        # 26 tokens, window 10, stride 8: starts 0,8,16 cover to 25 -> 3 chunks
        text = " ".join(f"x{i}" for i in range(26))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = chunk_documents(docs, 10, 2).collect()
        assert len(rows) == 3
        assert min(r.chunk_tokens for r in rows) == 10  # no stub tail

    def test_validation(self, spark):
        import pytest

        from schemamap_spark.operators.packing import chunk_documents

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(docs, 10, 10)
        with pytest.raises(ValueError):
            chunk_documents(docs, 0)
