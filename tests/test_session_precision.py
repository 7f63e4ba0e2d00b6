"""Nanosecond→microsecond conversion in load_table must be exact.

Modern epoch-ns values (~1.7e18) exceed double's 2^53 exact-integer range, so
the old `(ts / 1000).cast("long")` (double division) could be off by ±1 µs
before flooring. `ts div 1000` stays in bigint arithmetic end to end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from schemamap_spark.session import load_table

from conftest import SF001, SF01

# ns values chosen so double division demonstrably rounds wrong: each is
# > 2^53 and its exact µs value ends in a digit double rounding perturbs.
NS_CASES = [
    1_700_000_000_123_456_789,  # typical 2023 epoch-ns
    1_700_000_000_999_999_999,  # µs = ...999_999 (floor, never round up)
    2_000_000_001_000_000_001,
    9_007_199_254_740_993_000,  # 2^53+1 in the mantissa danger zone, ×1000
]


def test_ns_to_us_is_exact(spark, tmp_path):
    d = str(tmp_path / "sfdir")
    rows = [(i, ns, 1, "view", 1.0, "{}") for i, ns in enumerate(NS_CASES)]
    spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(d + "/events.parquet")

    ev = load_table(spark, d, "events")
    got = {r.event_id: r.us for r in ev.select("event_id", F.unix_micros("ts").alias("us")).collect()}
    want = {i: ns // 1000 for i, ns in enumerate(NS_CASES)}
    assert got == want


def test_double_division_would_have_been_wrong():
    # documents WHY the fix exists: double round-trip disagrees on these inputs
    assert any(int(ns / 1000) != ns // 1000 for ns in NS_CASES)


def test_load_table_plan_cache(spark):
    """r18: load_table memoizes the resolved relation per (session, dir,
    table) — metadata only. Second call returns the same prepared frame;
    fresh=True re-resolves (and refreshes the entry); distinct dirs/tables
    never collide."""
    from schemamap_spark.session import load_table

    a1 = load_table(spark, SF001, "nation")
    a2 = load_table(spark, SF001, "nation")
    assert a1 is a2
    b = load_table(spark, SF01, "nation")
    assert b is not a1  # keyed by dir
    c = load_table(spark, SF001, "region")
    assert c is not a1  # keyed by table
    f = load_table(spark, SF001, "nation", fresh=True)
    assert f is not a1
    assert sorted(map(tuple, f.collect())) == sorted(map(tuple, a1.collect()))
    # fresh refreshed the cache entry
    assert load_table(spark, SF001, "nation") is f
