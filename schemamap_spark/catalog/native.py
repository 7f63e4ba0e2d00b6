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
    # relations()/columns() enumerate spark.catalog eagerly into
    # createDataFrame rows — the returned plan is a snapshot, so engine
    # plan memos must not cache it (see CatalogAdapter.materializes_snapshots)
    materializes_snapshots = True

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def relations(self) -> DataFrame:
        rows = []
        for db in self.spark.catalog.listDatabases():
            for t in self.spark.catalog.listTables(db.name):
                rows.append((db.name, t.name, "v" if t.tableType == "VIEW" else "r",
                             t.description, True, None))
        schema = ("schema_name string, table_name string, object_type string, "
                  "description string, has_usage boolean, approx_rows bigint")
        return self.spark.createDataFrame(rows, schema)

    def columns(self) -> DataFrame:
        rows = []
        for db in self.spark.catalog.listDatabases():
            for t in self.spark.catalog.listTables(db.name):
                for i, c in enumerate(self.spark.catalog.listColumns(t.name, db.name), start=1):
                    rows.append((db.name, t.name, c.name, c.dataType, not c.nullable,
                                 None, c.description, i))
        schema = ("schema_name string, table_name string, column_name string, "
                  "data_type string, not_null boolean, default_value string, "
                  "column_description string, attnum int")
        return self.spark.createDataFrame(rows, schema)

    # the two always-empty frames are JVM local relations, so the SMO joins
    # over them start no Python workers (entities/registry.local_frame)
    def constraints(self) -> DataFrame:
        return local_frame(self.spark, [], CONSTRAINTS_SCHEMA)

    def indexes(self) -> DataFrame:
        return local_frame(self.spark, [], INDEXES_SCHEMA)
