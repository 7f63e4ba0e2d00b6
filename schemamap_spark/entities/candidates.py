"""Master-data-entity candidate ranking.

Spark rendering of the reference's `master_date_entity_candidates()` SQL
(reference rust/create_schemamap_schema.sql:212-256): rank tables by how
"master-data-like" they are — small row counts and many *incoming* foreign
keys score high.

Scale notes:
- per-table FK in-degree: constraints is tiny relative to data, but the agg
  partitions on (ref_schema, ref_table) — a plain shuffled partial agg.
- the global min/max is an unpartitioned window, so `stats` is computed
  once (an aggregate crossJoined back reads it twice: 7 jobs vs 4). The
  window holds every table on one partition, so the final sort needs no
  range sampler. At SCALE.md's 10,400-replica catalog that is ~1.8M narrow
  rows (two names, two longs) in a buffer that spills, and the caller
  collects the whole ranked list to the driver anyway.
- approx_rows comes from catalog statistics (reference uses reltuples), never
  count(*) per table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from schemamap_spark.catalog.base import CatalogAdapter


def master_data_entity_candidates(catalog: CatalogAdapter) -> DataFrame:
    rel = catalog.relations().filter((F.col("object_type") == "r") & F.col("has_usage"))
    con = catalog.constraints()

    fk_in = (
        con.filter(F.col("constraint_type") == "f")
        .groupBy(
            F.col("ref_schema").alias("schema_name"),
            F.col("ref_table").alias("table_name"),
        )
        .agg(F.count(F.lit(1)).alias("fk_in"))
    )

    stats = (
        rel.select("schema_name", "table_name", "approx_rows")
        .join(F.broadcast(fk_in), ["schema_name", "table_name"], "left")
        .withColumn("foreign_key_count", F.coalesce("fk_in", F.lit(0)).cast("bigint"))
        .drop("fk_in")
    )

    everything = Window.partitionBy()
    s = stats.select(
        "*",
        F.min("approx_rows").over(everything).alias("min_rows"),
        F.max("approx_rows").over(everything).alias("max_rows"),
        F.min("foreign_key_count").over(everything).alias("min_fk"),
        F.max("foreign_key_count").over(everything).alias("max_fk"),
    )
    row_norm = (F.col("max_rows") - F.col("approx_rows")).cast("double") / F.nullif(
        (F.col("max_rows") - F.col("min_rows")).cast("double"), F.lit(0.0)
    )
    fk_norm = (F.col("foreign_key_count") - F.col("min_fk")).cast("double") / F.nullif(
        (F.col("max_fk") - F.col("min_fk")).cast("double"), F.lit(0.0)
    )
    score = F.coalesce(
        F.when((F.col("max_fk") == F.col("min_fk")) & (F.col("max_fk") == 0), row_norm)
        .otherwise(0.5 * row_norm + 0.5 * fk_norm),
        F.lit(0.0),
    )
    return (
        s.select(
            "schema_name",
            "table_name",
            "approx_rows",
            "foreign_key_count",
            score.alias("probability_master_data"),
        )
        # deterministic total order (reference sorts by probability only;
        # we break ties so goldens are stable)
        .orderBy(F.desc("probability_master_data"), "schema_name", "table_name")
    )
