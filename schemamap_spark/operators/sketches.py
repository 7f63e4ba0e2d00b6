"""Mergeable distinct-count sketch store — incremental NDV across batches.

The daily-ingest dashboard shape: at 100 TB/day you cannot re-scan history
to answer "how many distinct users/docs/urls so far this month". Apache
DataSketches HLL (exposed by Spark as hll_sketch_agg / hll_union_agg /
hll_sketch_estimate) makes NDV a MERGEABLE aggregate: each batch reduces to
one ~KB binary sketch per column, sketches append to a parquet store, and
any time range's NDV is a union over its sketch rows — milliseconds of work
over KBs, never a re-scan.

Merge is exact-by-construction: an HLL register state is a max over hashed
observations, so unioning per-batch sketches yields the SAME register state
as sketching the concatenated data (Spark's own distributed aggregation
already merges per-partition sketches the same way). The two-batch ==
full-batch equality is pinned in test_sketches.

This complements incremental_exact_dedup (operators/dedup.py), which keeps
per-document digests for exact membership; the sketch store answers the
cardinality questions at a fraction of the state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schemamap_spark.session import col_named

# types hll_sketch_agg accepts natively (it REJECTS smallint/tinyint —
# verified against Spark 4.1: DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE);
# narrow ints widen to int (value-preserving), everything else casts to
# string (cast semantics define distinctness for them)
_NATIVE = {"int", "bigint", "string", "binary"}
_WIDEN = {"smallint", "tinyint"}


def _sketchable(df: DataFrame, col: str) -> F.Column:
    t = dict(df.dtypes)[col]
    c = col_named(col)
    if t in _NATIVE:
        return c
    if t in _WIDEN:
        return c.cast("int")
    return c.cast("string")


def column_sketches(
    df: DataFrame, cols: list[str], lg_k: int = 12, batch_id: str = "batch0"
) -> DataFrame:
    """One pass over `df` -> one row per column:
    (batch_id, column, n_rows, sketch<binary>). lg_k trades sketch size
    (2^lg_k registers) against relative error (~1.04/sqrt(2^lg_k); 12 ->
    ~1.6%). Non-native types cast to string first (cast semantics define
    distinctness for them)."""
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [
        F.hll_sketch_agg(_sketchable(df, c), lg_k).alias(f"__sk_{i}")
        for i, c in enumerate(cols)
    ] + [F.count(F.lit(1)).alias("__n")]
    one = df.agg(*aggs)
    # column names are spliced into stack() as string literals — escape
    # quotes so a hostile name can't break (or reshape) the SQL
    stacked = ", ".join(
        "'{}', __sk_{}".format(c.replace("'", "''"), i) for i, c in enumerate(cols)
    )
    return one.select(
        F.lit(batch_id).alias("batch_id"),
        F.expr(f"stack({len(cols)}, {stacked}) as (column, sketch)"),
        F.col("__n").alias("n_rows"),
    ).select("batch_id", "column", "n_rows", "sketch")


def append_sketches(
    df: DataFrame, store_dir: str, cols: list[str], lg_k: int = 12,
    batch_id: str = "batch0",
) -> None:
    """Sketch a batch and append the rows to the parquet sketch store."""
    column_sketches(df, cols, lg_k, batch_id).write.mode("append").parquet(store_dir)


def ndv_estimates(store: DataFrame) -> DataFrame:
    """NDV per column from a sketch store (any subset of its rows — filter
    batch_id for a time range first): union the sketches, estimate once.
    Output (column, n_rows, ndv), ordered by column. allowDifferentLgConfigK
    lets stores mix lg_k across batches (union degrades to the coarser)."""
    return (
        store.groupBy("column")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.hll_sketch_estimate(
                F.hll_union_agg("sketch", True)
            ).alias("ndv"),
        )
        .orderBy("column")
    )


def incremental_ndv(spark: SparkSession, store_dir: str) -> DataFrame:
    """Dashboard entry point: current NDV per column from the persisted
    store. Cost scales with the number of sketch rows (batches x columns),
    never with the data that produced them."""
    return ndv_estimates(spark.read.parquet(store_dir))
