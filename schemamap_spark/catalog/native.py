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

    def _tables(self):
        """(schema, Table) for each catalog object, temporary views once.

        `listTables(db)` returns the session's temporary views with every
        database's tables; a temporary view belongs to no database, so it
        is listed once, under the current one."""
        catalog = self.spark.catalog
        current = catalog.currentDatabase()
        for db in catalog.listDatabases():
            for t in catalog.listTables(db.name):
                if not t.isTemporary or db.name == current:
                    yield db.name, t

    def relations(self) -> DataFrame:
        rows = [
            (db, t.name, "v" if t.tableType in ("VIEW", "TEMPORARY") else "r",
             t.description, True, None)
            for db, t in self._tables()
        ]
        return local_frame(self.spark, rows, RELATIONS_SCHEMA)

    def columns(self) -> DataFrame:
        rows = []
        for db, t in self._tables():
            # a temporary view lives in no database: qualifying its name
            # with db fails the lookup
            cols = (self.spark.catalog.listColumns(t.name) if t.isTemporary
                    else self.spark.catalog.listColumns(t.name, db))
            for i, c in enumerate(cols, start=1):
                rows.append((db, t.name, c.name, c.dataType, not c.nullable,
                             None, c.description, i))
        return local_frame(self.spark, rows, COLUMNS_SCHEMA)

    # every frame is a JVM local relation, so the SMO joins over them start
    # no Python workers (entities/registry.local_frame)
    def constraints(self) -> DataFrame:
        return local_frame(self.spark, [], CONSTRAINTS_SCHEMA)

    def indexes(self) -> DataFrame:
        return local_frame(self.spark, [], INDEXES_SCHEMA)
