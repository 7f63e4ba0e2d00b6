"""Clustering + sketch operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from schemamap_spark.operators.clustering import approx_ndv, cluster_summary, kmeans_clusters
from schemamap_spark.session import load_table

from conftest import SF001 as SF


def test_kmeans_partitions_everything(spark):
    emb = load_table(spark, SF, "embeddings")
    assigned = kmeans_clusters(emb, k=6)
    assert assigned.count() == emb.count()
    n_clusters = assigned.select("cluster_id").distinct().count()
    assert 1 < n_clusters <= 6


def test_cluster_summary_sums_to_total(spark):
    emb = load_table(spark, SF, "embeddings")
    summ = cluster_summary(emb, k=6)
    assert summ.agg(F.sum("n")).collect()[0][0] == emb.count()


def test_kmeans_deterministic_under_seed(spark):
    emb = load_table(spark, SF, "embeddings")
    a = sorted((r.cluster_id, r.n) for r in cluster_summary(emb, k=5).collect())
    b = sorted((r.cluster_id, r.n) for r in cluster_summary(emb, k=5).collect())
    assert a == b


def test_approx_ndv_within_tolerance(spark):
    ev = load_table(spark, SF, "events")
    est = approx_ndv(ev, ["user_id", "event_type"]).collect()[0]
    exact_users = ev.select("user_id").distinct().count()
    exact_types = ev.select("event_type").distinct().count()
    assert abs(est.user_id_ndv - exact_users) / exact_users < 0.1
    assert est.event_type_ndv == exact_types  # tiny domain: exact


def test_ivf_kmeans_centroids(spark):
    from schemamap_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, centroids="kmeans")
    assert 0 < out.count() <= 9
    assert all(r.neighbor_id != r.query_id for r in out.collect())


def test_approx_quantiles_rank_error_bound(spark):
    """GK sketch guarantee: the value returned for probability p has true
    rank within relative_error*N of p*N — checked against the exact sorted
    ranks, plus parameter validation."""
    import pytest

    from schemamap_spark.operators.clustering import approx_quantiles

    df = load_table(spark, SF, "events")
    n = df.count()
    eps = 0.01
    row = approx_quantiles(df, "value", [0.5, 0.95], relative_error=eps).head()
    vals = sorted(r.value for r in df.select("value").collect())
    for p, got in (({0.5: row.p50, 0.95: row.p95}).items()):
        lo = sum(1 for v in vals if v < got)       # min rank of got
        hi = sum(1 for v in vals if v <= got)      # max rank of got
        assert (p - eps) * n - 1 <= hi and lo <= (p + eps) * n + 1

    with pytest.raises(ValueError):
        approx_quantiles(df, "value", [1.5])
    with pytest.raises(ValueError):
        approx_quantiles(df, "value", relative_error=0.0)


def test_approx_quantiles_aliases_are_plain_identifiers(spark):
    from schemamap_spark.operators.clustering import approx_quantiles

    df = load_table(spark, SF, "events")
    cols = approx_quantiles(df, "value", [0.05, 0.5, 0.999, 1.0]).columns
    assert cols == ["p5", "p50", "p99_9", "p100"]
    assert all(c.replace("_", "").isalnum() for c in cols)
