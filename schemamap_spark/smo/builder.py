"""Schema-metadata-overview (SMO) builder.

Produces one row per column of the introspected database with nested
constraint/index struct arrays — the Spark equivalent of the reference's
`schema_metadata_overview` materialized view (reference
rust/create_schemamap_schema.sql:836-967, target shape asserted at
clojure/test/io/schemamap/core_test.clj:134-162).

Scale design (100 TB-catalog mindset — think "millions of columns"):
- The reference's theta join `attnum = any(constraint_keys)` (SCHEMA:964-965)
  would be a BroadcastNestedLoopJoin in Spark. We instead EXPLODE the key
  arrays and equi-join on (schema, table, attnum) — a plain shuffled hash /
  sort-merge join that partitions cleanly and survives arbitrary scale.
- Aggregation to nested arrays happens per (schema, table, attnum) BEFORE the
  join back to columns, so the join is 1:1 (no row multiplication, no
  re-aggregation).
- Arrays are sort_array()-canonicalized: deterministic output regardless of
  partitioning / task order, which is what makes golden tests byte-stable.
- No global sort: a range sampler would compute the joins twice. A persisted
  snapshot is byte-stable through engine.refresh's layout (hash partitions,
  each sorted on the canonical key); its read-back order is no sort order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schemamap_spark.catalog.base import CatalogAdapter

SMO_COLUMNS = [
    "schema_name", "table_name", "column_name", "object_type",
    "table_description", "data_type", "not_null", "default_value",
    "column_description", "attnum", "constraints", "indexes",
]

_KEY = ["schema_name", "table_name"]


def _per_column_constraints(constraints: DataFrame) -> DataFrame:
    """constraints keyed by array `keys` → per-(schema,table,attnum) struct arrays."""
    exploded = constraints.select(
        *_KEY,
        F.explode("keys").alias("attnum"),
        F.struct(
            F.col("constraint_name").alias("name"),
            F.col("constraint_type").alias("type"),
            F.col("definition"),
            F.col("sequence_name"),
        ).alias("c"),
    )
    return exploded.groupBy(*_KEY, "attnum").agg(
        F.sort_array(F.collect_set("c")).alias("constraints")
    )


def _per_column_indexes(indexes: DataFrame) -> DataFrame:
    exploded = indexes.select(
        *_KEY,
        F.explode("keys").alias("attnum"),
        F.struct(
            F.col("index_name").alias("name"),
            F.col("index_type").alias("type"),
            F.col("definition"),
            F.col("immediate"),
        ).alias("i"),
    )
    return exploded.groupBy(*_KEY, "attnum").agg(
        F.sort_array(F.collect_set("i")).alias("indexes")
    )


def build_smo(catalog: CatalogAdapter) -> DataFrame:
    """Raw catalog frames → SMO DataFrame (schema per SMO_COLUMNS).

    Null-handling choice: columns with no constraints/indexes carry EMPTY
    arrays (not null) — concepts then compose with `F.exists` without null
    guards; the reference's NULL-from-FILTER jsonb behaves equivalently under
    its `exists(jsonb_array_elements(...))` tests.
    """
    rel = catalog.relations().filter(F.col("has_usage"))
    cols = catalog.columns()

    base = cols.join(
        rel.select(*_KEY, "object_type", F.col("description").alias("table_description")),
        on=_KEY,
        how="inner",  # drops columns of relations we can't see — same as the reference's privilege filter
    )

    con = _per_column_constraints(catalog.constraints())
    idx = _per_column_indexes(catalog.indexes())

    return (
        base.join(con, on=[*_KEY, "attnum"], how="left")
        .join(idx, on=[*_KEY, "attnum"], how="left")
        .withColumn("constraints", F.coalesce("constraints", F.array().cast("array<struct<name:string,type:string,definition:string,sequence_name:string>>")))
        .withColumn("indexes", F.coalesce("indexes", F.array().cast("array<struct<name:string,type:string,definition:string,immediate:boolean>>")))
        .select(*SMO_COLUMNS)
    )


# Scalar (per-column) attributes compared by smo_diff; constraint/index
# arrays are compared as canonical sorted sets.
_DIFF_SCALARS = ["object_type", "data_type", "not_null", "default_value", "attnum"]


def smo_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema drift between two SMO snapshots — the natural derived query of
    "schema metadata as data": what a `doctor`-style check shows after a
    deploy, and what the reference's what-if test asserts by re-counting
    (clojure/test/io/schemamap/core_test.clj:209-254 drops a table,
    refreshes, compares, rolls back — this operator IS that comparison,
    column-granular).

    One full outer join on (schema, table, column); per row:
      change = 'added' | 'removed' | 'changed'
    with `details` an array of "attr: old -> new" strings for changed
    scalar attributes and constraint/index set changes (arrays compared as
    sorted canonical sets — ordering differences are NOT drift). Unchanged
    columns are absent, so the result size scales with the DRIFT, not the
    catalog; at 1000-table scale the join keys are the only shuffle."""
    o = old.select(
        *_KEY, "column_name", *_DIFF_SCALARS,
        F.sort_array("constraints").alias("constraints"),
        F.sort_array("indexes").alias("indexes"),
    )
    n = new.select(
        *_KEY, "column_name", *_DIFF_SCALARS,
        F.sort_array("constraints").alias("constraints"),
        F.sort_array("indexes").alias("indexes"),
    )
    keys = [*_KEY, "column_name"]
    j = o.alias("o").join(n.alias("n"), keys, "full_outer")

    def chg(attr):
        a, b = F.col(f"o.{attr}"), F.col(f"n.{attr}")
        diff = ~(a.eqNullSafe(b))
        return F.when(
            diff,
            F.format_string(
                f"{attr}: %s -> %s",
                F.coalesce(a.cast("string"), F.lit("∅")),
                F.coalesce(b.cast("string"), F.lit("∅")),
            ),
        )
    details = F.array_compact(
        F.array(
            *[chg(a) for a in _DIFF_SCALARS],
            F.when(
                ~F.col("o.constraints").eqNullSafe(F.col("n.constraints")),
                F.lit("constraints changed"),
            ),
            F.when(
                ~F.col("o.indexes").eqNullSafe(F.col("n.indexes")),
                F.lit("indexes changed"),
            ),
        )
    )
    present_o = F.col("o.attnum").isNotNull() | F.col("o.data_type").isNotNull()
    present_n = F.col("n.attnum").isNotNull() | F.col("n.data_type").isNotNull()
    return (
        j.withColumn(
            "change",
            F.when(present_o & ~present_n, F.lit("removed"))
            .when(present_n & ~present_o, F.lit("added"))
            .otherwise(F.lit("changed")),
        )
        .withColumn("details", details)
        .filter((F.col("change") != "changed") | (F.size("details") > 0))
        .select(*keys, "change", "details")
        .orderBy(*keys)
    )
