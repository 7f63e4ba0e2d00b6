"""HLL sketch store: merge-exactness, accuracy, and the incremental shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schemamap_spark.operators.sketches import (
    append_sketches,
    column_sketches,
    incremental_ndv,
    ndv_estimates,
)
from schemamap_spark.session import load_table
from conftest import SF001


def test_union_of_batch_sketches_equals_full_batch(spark):
    """The mergeability contract: sketch(b1) ∪ sketch(b2) must estimate
    exactly what sketching the whole table does — register max is
    order/split-insensitive."""
    ev = load_table(spark, SF001, "events")
    cols = ["user_id", "event_type"]
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    store = column_sketches(b1, cols, batch_id="b1").unionByName(
        column_sketches(b2, cols, batch_id="b2")
    )
    merged = {r.column: (r.n_rows, r.ndv) for r in ndv_estimates(store).collect()}
    full = {
        r.column: (r.n_rows, r.ndv)
        for r in ndv_estimates(column_sketches(ev, cols)).collect()
    }
    assert merged == full


def test_ndv_accuracy_and_exact_small_domains(spark):
    ev = load_table(spark, SF001, "events")
    est = {r.column: r.ndv for r in ndv_estimates(
        column_sketches(ev, ["event_type", "user_id"])
    ).collect()}
    # 5-value domain: HLL is exact well below sketch capacity
    assert est["event_type"] == 5
    true_users = ev.select("user_id").distinct().count()
    assert abs(est["user_id"] - true_users) / true_users < 0.05


def test_incremental_store_roundtrip(spark, tmp_path):
    """Batches append ~KB sketch rows; the dashboard reads only the store."""
    ev = load_table(spark, SF001, "events")
    store_dir = str(tmp_path / "ndv_store")
    for i in range(3):
        append_sketches(
            ev.filter(F.col("event_id") % 3 == i),
            store_dir, ["user_id"], batch_id=f"day{i}",
        )
    got = {r.column: (r.n_rows, r.ndv) for r in incremental_ndv(spark, store_dir).collect()}
    want_rows = ev.count()
    full = ndv_estimates(column_sketches(ev, ["user_id"])).collect()[0]
    assert got["user_id"] == (want_rows, full.ndv)
    # the store itself stays tiny: one row per (batch, column)
    assert spark.read.parquet(store_dir).count() == 3


def test_double_column_casts_to_string(spark):
    ev = load_table(spark, SF001, "events")
    est = {r.column: r.ndv for r in ndv_estimates(
        column_sketches(ev, ["value"])
    ).collect()}
    true_vals = ev.select(F.col("value").cast("string")).distinct().count()
    assert abs(est["value"] - true_vals) / max(true_vals, 1) < 0.05


def test_empty_cols_rejected(spark):
    ev = load_table(spark, SF001, "events")
    with pytest.raises(ValueError, match="non-empty"):
        column_sketches(ev, [])


def test_narrow_int_and_quoted_columns_sketchable(spark):
    """smallint/tinyint widen to int (hll_sketch_agg rejects them raw);
    quoted column names can't break the stack() labels."""
    df = spark.createDataFrame(
        [(1, 2, "x")], "a smallint, b tinyint, `o'brien` string"
    )
    est = {r.column: r.ndv for r in ndv_estimates(
        column_sketches(df, ["a", "b", "o'brien"])
    ).collect()}
    assert est == {"a": 1, "b": 1, "o'brien": 1}
    # dotted / backticked names resolve as themselves, not as nested access
    hostile = spark.createDataFrame([(1, "x")], ["a.b", "tick`d"])
    est2 = {r.column: r.ndv for r in ndv_estimates(
        column_sketches(hostile, ["a.b", "tick`d"])
    ).collect()}
    assert est2 == {"a.b": 1, "tick`d": 1}
