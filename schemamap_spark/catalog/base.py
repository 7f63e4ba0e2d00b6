"""Catalog adapter interface.

The reference engine's only data source for analytics is the database catalog
(pg_class/pg_attribute/pg_constraint/pg_index scans — reference
rust/create_schemamap_schema.sql:846-933). An adapter produces four raw
DataFrames with fixed schemas; the SMO builder (schemamap_spark.smo) is
adapter-agnostic.

Raw shapes (Spark SQL types):

relations(schema_name string, table_name string, object_type string('r'|'v'|'m'),
          description string, has_usage boolean, approx_rows bigint)
columns(schema_name, table_name, column_name, data_type string, not_null boolean,
        default_value string, column_description string, attnum int)
constraints(schema_name, table_name, constraint_name, constraint_type
            string('p'|'f'|'u'|'c'|'x'|'g'), definition string,
            keys array<int>, fkeys array<int>, sequence_name string,
            ref_schema string, ref_table string)
indexes(schema_name, table_name, index_name, index_type string('u'|'x'|'i'),
        definition string, immediate boolean, keys array<int>)
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame

# reference rust/create_schemamap_schema.sql:1060-1073 (ignored_schemas values)
IGNORED_SCHEMAS = (
    "pg_catalog",
    "information_schema",
    "schemamap",
)


class CatalogAdapter(abc.ABC):
    # True when relations()/columns() introspect the live catalog EAGERLY
    # and embed the rows in the returned plan (a local relation of listed
    # tables): a memoized plan over such frames snapshots the table set at
    # build time, so plan caches must be skipped (engine.
    # master_data_entity_candidates). Lazy adapters (parquet/JDBC scans)
    # re-read their source on every action and stay memo-safe.
    materializes_snapshots: bool = False

    @abc.abstractmethod
    def relations(self) -> DataFrame: ...

    @abc.abstractmethod
    def columns(self) -> DataFrame: ...

    @abc.abstractmethod
    def constraints(self) -> DataFrame: ...

    @abc.abstractmethod
    def indexes(self) -> DataFrame: ...
