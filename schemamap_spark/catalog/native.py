"""Spark-native catalog adapter.

Synthesizes the raw catalog DataFrames from `spark.catalog` — the engine's
own metadata when running against Spark-managed tables (no Postgres). Spark
has no constraint/index catalog, so those frames are empty with the right
schema; concepts that depend on them degrade gracefully (exactly like a
Postgres database with no declared constraints would).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from schemamap_spark.catalog.base import CatalogAdapter
from schemamap_spark.entities.registry import local_frame

CONSTRAINTS_SCHEMA = T.StructType([
    T.StructField("schema_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("constraint_name", T.StringType()),
    T.StructField("constraint_type", T.StringType()),
    T.StructField("definition", T.StringType()),
    T.StructField("keys", T.ArrayType(T.IntegerType())),
    T.StructField("fkeys", T.ArrayType(T.IntegerType())),
    T.StructField("sequence_name", T.StringType()),
    T.StructField("ref_schema", T.StringType()),
    T.StructField("ref_table", T.StringType()),
])

RELATIONS_SCHEMA = T.StructType([
    T.StructField("schema_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("object_type", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("has_usage", T.BooleanType()),
    T.StructField("approx_rows", T.LongType()),
])

COLUMNS_SCHEMA = T.StructType([
    T.StructField("schema_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("column_name", T.StringType()),
    T.StructField("data_type", T.StringType()),
    T.StructField("not_null", T.BooleanType()),
    T.StructField("default_value", T.StringType()),
    T.StructField("column_description", T.StringType()),
    T.StructField("attnum", T.IntegerType()),
])

INDEXES_SCHEMA = T.StructType([
    T.StructField("schema_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("index_name", T.StringType()),
    T.StructField("index_type", T.StringType()),
    T.StructField("definition", T.StringType()),
    T.StructField("immediate", T.BooleanType()),
    T.StructField("keys", T.ArrayType(T.IntegerType())),
])


class SparkNativeCatalog(CatalogAdapter):
    # relations()/columns() enumerate spark.catalog eagerly into local
    # rows — the returned plan is a snapshot of the catalog at call time, so
    # engine plan memos must not cache it (see
    # CatalogAdapter.materializes_snapshots)
    materializes_snapshots = True

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def relations(self) -> DataFrame:
        rows = []
        for db in self.spark.catalog.listDatabases():
            for t in self.spark.catalog.listTables(db.name):
                rows.append((db.name, t.name, "v" if t.tableType == "VIEW" else "r",
                             t.description, True, None))
        return local_frame(self.spark, rows, RELATIONS_SCHEMA)

    def columns(self) -> DataFrame:
        rows = []
        for db in self.spark.catalog.listDatabases():
            for t in self.spark.catalog.listTables(db.name):
                # a temporary view lives in no database: qualifying its
                # name with db.name fails the lookup
                cols = (self.spark.catalog.listColumns(t.name) if t.isTemporary
                        else self.spark.catalog.listColumns(t.name, db.name))
                for i, c in enumerate(cols, start=1):
                    rows.append((db.name, t.name, c.name, c.dataType, not c.nullable,
                                 None, c.description, i))
        return local_frame(self.spark, rows, COLUMNS_SCHEMA)

    # every frame is a JVM local relation, so the SMO joins over them start
    # no Python workers (entities/registry.local_frame)
    def constraints(self) -> DataFrame:
        return local_frame(self.spark, [], CONSTRAINTS_SCHEMA)

    def indexes(self) -> DataFrame:
        return local_frame(self.spark, [], INDEXES_SCHEMA)
