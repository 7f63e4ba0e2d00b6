"""Tenant / master-data-entity registries.

- `list_tenants` is a user-overridable DataFrame-returning function with a
  fixed output schema (reference rust/create_schemamap_schema.sql:6-20;
  override example docker/test_app_migrations/V002:8-16). Default: empty.
- `define_master_data_entity(name, df_or_fn)` registers a DataFrame as the
  `mde_<name>` view (reference SCHEMA:187-197); `list_mdes` enumerates the
  registry (SCHEMA:199-204).
- `update_function_definition` parity: re-defining an existing entry replaces
  it (create-or-replace semantics); non-identifier names are rejected, the
  Spark-side stand-in for the reference's quote_ident guard.

Driver-held lists (the default empty tenants frame, the MDE names) never go
through `spark.createDataFrame(list)`: PySpark ships such a list through
`parallelize` into a PythonRDD, so every action on the frame (even over zero
rows) waits for Python workers, ~1 s per collect on a 4-core host.
`local_frame` builds a JVM LocalRelation instead, which plans to a
`LocalTableScan` and runs without any executor-side Python. Callers that only
need the values (`status_json`, `verify_installation`) read the registry
directly, and run a Spark job only over a user `list_tenants` override.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_IDENT_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")

TENANTS_SCHEMA = T.StructType([
    T.StructField("tenant_id", T.StringType()),
    T.StructField("tenant_short_name", T.StringType()),
    T.StructField("tenant_display_name", T.StringType()),
    T.StructField("tenant_locale", T.StringType()),
    T.StructField("tenant_data", T.StringType()),  # JSON at the edge
])


MDES_SCHEMA = T.StructType([T.StructField("mde_name", T.StringType())])


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType
) -> DataFrame:
    """A DataFrame over driver-held rows as a JVM LocalRelation (see the
    module docstring). Values must be JVM-convertible scalars of the
    schema's types (str/None for string columns)."""
    jvm = spark._jvm
    jrows = jvm.java.util.ArrayList()
    for row in rows:
        values = spark.sparkContext._gateway.new_array(jvm.java.lang.Object, len(row))
        for i, v in enumerate(row):
            values[i] = v
        jrows.add(jvm.org.apache.spark.sql.RowFactory.create(values))
    jschema = spark._jsparkSession.parseDataType(schema.json())
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema), spark)


class EntityRegistry:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tenants_fn: Callable[[SparkSession], DataFrame] | None = None
        self._mdes: dict[str, Callable[[SparkSession], DataFrame]] = {}

    # --- tenants -------------------------------------------------------
    def define_tenants(self, fn: Callable[[SparkSession], DataFrame]) -> None:
        self._tenants_fn = fn

    def list_tenants(self) -> DataFrame:
        if self._tenants_fn is None:
            return local_frame(self.spark, [], TENANTS_SCHEMA)
        df = self._tenants_fn(self.spark)
        got = [f.name for f in df.schema.fields]
        want = [f.name for f in TENANTS_SCHEMA.fields]
        if got != want:
            raise ValueError(f"list_tenants override must return columns {want}, got {got}")
        return df

    def tenant_rows(self) -> list[dict]:
        """`list_tenants()` as dicts in `orderBy("tenant_id")` order
        (ascending, nulls first). Without an override this runs no Spark
        job; an override is collected once and sorted in the driver."""
        if self._tenants_fn is None:
            return []
        rows = [r.asDict() for r in self.list_tenants().collect()]
        return sorted(rows, key=lambda r: (r["tenant_id"] is not None, r["tenant_id"]))

    def tenants_defined(self) -> bool:
        return self._tenants_fn is not None and not self.list_tenants().isEmpty()

    # --- master data entities -----------------------------------------
    def define_master_data_entity(self, name: str, fn: Callable[[SparkSession], DataFrame]) -> str:
        if not _IDENT_RE.match(name):
            raise ValueError(f"invalid MDE name: {name!r}")
        self._mdes[name] = fn
        # also expose as a temp view, like the reference's `mde_<name>` view
        fn(self.spark).createOrReplaceTempView(f"mde_{name}")
        return name

    def mde(self, name: str) -> DataFrame:
        return self._mdes[name](self.spark)

    def mde_names(self) -> list[str]:
        return sorted(self._mdes)

    def list_mdes(self) -> DataFrame:
        return local_frame(self.spark, [(n,) for n in self.mde_names()], MDES_SCHEMA)
