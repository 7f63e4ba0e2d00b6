"""As-of / range join semantics edge cases."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from schemamap_spark.operators.temporal import asof_join, range_join

from conftest import SF001


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_basic_and_tie_and_nomatch(spark):
    left = spark.createDataFrame(
        [
            (1, "u", _ts("2024-01-01T10:00:00")),   # matches r2 (09:30)
            (2, "u", _ts("2024-01-01T09:00:00")),   # tie: matches r1 exactly at 09:00
            (3, "u", _ts("2024-01-01T08:00:00")),   # before all rights -> null
            (4, "v", _ts("2024-01-01T12:00:00")),   # other key, no rights -> null
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01T09:00:00"), 100),
            ("u", _ts("2024-01-01T09:30:00"), 200),
            ("u", _ts("2024-01-01T11:00:00"), 300),  # after everything relevant
        ],
        "k string, ts timestamp, px int",
    )
    out = {r.id: r.px_right for r in asof_join(left, right, key="k").collect()}
    assert out == {1: 200, 2: 100, 3: None, 4: None}


def test_asof_preserves_left_rowcount(spark):
    from schemamap_spark.session import load_table

    ev = load_table(spark, SF001, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("vid")
    )
    joined = asof_join(purchases, views, key="user_id", right_cols=["vid"])
    assert joined.count() == purchases.count()


def test_range_join_boundaries(spark):
    points = spark.createDataFrame(
        [
            (1, "u", _ts("2024-01-01T00:00:00")),  # == start: in
            (2, "u", _ts("2024-01-01T05:59:59")),  # in
            (3, "u", _ts("2024-01-01T06:00:00")),  # == end: out (half-open)
            (4, "w", _ts("2024-01-01T01:00:00")),  # wrong key: out
        ],
        "id long, k string, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [("u", _ts("2024-01-01T00:00:00"), _ts("2024-01-01T06:00:00"))],
        "k string, start_ts timestamp, end_ts timestamp",
    )
    got = {r.id for r in range_join(points, intervals, key="k").collect()}
    assert got == {1, 2}


def test_range_join_long_interval_bucket_replication(spark):
    # interval spanning many buckets must still match exactly once per point
    points = spark.createDataFrame(
        [(i, "u", _ts("2024-01-01T00:00:00") + dt.timedelta(hours=i)) for i in range(30)],
        "id long, k string, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [("u", _ts("2024-01-01T00:00:00"), _ts("2024-01-02T00:00:00"))],
        "k string, start_ts timestamp, end_ts timestamp",
    )
    out = range_join(points, intervals, key="k")
    assert out.count() == 24  # hours 0..23 in; 24..29 out; no duplicates
