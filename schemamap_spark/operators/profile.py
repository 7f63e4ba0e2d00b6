"""One-pass column profiler — the data-table sibling of the catalog status.

The reference profiles SCHEMA metadata (1,656 catalog columns in one agg
pass); this profiles the DATA: per column — null count/ratio, approximate
NDV (HLL), min/max — for any table, in ONE aggregation over one scan
(every metric is a Column expression inside a single agg(), so the pass
costs a map + one 1-row reduce regardless of column count, the
concepts/status.py shape). The import pipeline reads it before mapping
(which staging columns are empty? which look like keys?); the curation
pipeline reads it as the pre-flight table card.

Min/max surface as strings so the output is one long-format frame; NDV is
a sketch estimate (±~2%) — exact distinct counting per column would be a
shuffle per column, the one thing a profiler must not do at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schemamap_spark.session import col_named


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, n_rows, n_nulls, null_ratio, approx_ndv, min_value,
    max_value) — one row per profiled column, ordered by column name."""
    cols = cols or df.columns
    if not cols:
        raise ValueError("cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    # map-typed columns are not orderable (min/max fails analysis) — reject
    # them loudly up front so one column can't abort a whole-table profile
    # with an opaque analyzer error; callers pass cols= to exclude them
    types = dict(df.dtypes)
    unorderable = [c for c in cols if types[c].startswith("map<")]
    if unorderable:
        raise ValueError(
            f"map-typed columns are not profilable (min/max undefined): "
            f"{unorderable} — exclude them via cols="
        )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        col = col_named(c)
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"__nul_{i}"),
            F.approx_count_distinct(col).alias(f"__ndv_{i}"),
            F.min(col).cast("string").alias(f"__mn_{i}"),
            F.max(col).cast("string").alias(f"__mx_{i}"),
        ]
    one = df.agg(*aggs)
    # names are spliced into stack() as string LITERALS (labels, not
    # references) — escape quotes so "o'brien"-style names can't break the SQL
    stacked = ", ".join(
        "'{}', __nul_{}, __ndv_{}, __mn_{}, __mx_{}".format(
            c.replace("'", "''"), i, i, i, i
        )
        for i, c in enumerate(cols)
    )
    return (
        one.select(
            F.col("__n").alias("n_rows"),
            F.expr(
                f"stack({len(cols)}, {stacked}) as "
                "(column, n_nulls, approx_ndv, min_value, max_value)"
            ),
        )
        .select(
            "column",
            "n_rows",
            "n_nulls",
            F.round(F.col("n_nulls") / F.col("n_rows"), 6).alias("null_ratio"),
            "approx_ndv",
            "min_value",
            "max_value",
        )
        .orderBy("column")
    )
