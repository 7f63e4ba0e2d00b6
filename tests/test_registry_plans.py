"""Updatable-function registry (X1/X2) + MDE plan-walk (J8)."""

from __future__ import annotations

import pytest

from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR
from schemamap_spark.plans.dryrun import tables_in_plan
from conftest import SF001


def test_update_function_definition(spark):
    # fresh engine: the session-scoped fixture may already carry tenant
    # overrides from other tests
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    engine = SchemamapEngine(spark, FixtureCatalog(spark))
    fns = engine.functions
    assert "list_tenants" in fns.list_updatable_fns()
    # default: empty tenants
    assert fns.get("list_tenants")().count() == 0

    # redefinition (create-or-replace), mirrors core_test.clj:55-72
    engine.entities.define_tenants(
        lambda s: s.read.parquet(f"{DEFAULT_FIXTURE_DIR}/tenants.parquet")
    )
    assert fns.get("list_tenants")().count() == 25

    # guards: unknown slot, bad identifier, volatile body
    with pytest.raises(KeyError):
        fns.update_function_definition("drop_all_tables", lambda: None)
    with pytest.raises(ValueError):
        fns.update_function_definition("bad; name", lambda: None)
    with pytest.raises(ValueError):
        fns.update_function_definition("ignored_schemas", lambda: [], pure=False)

    # idempotent replace of a known slot
    for _ in range(2):
        fns.update_function_definition("ignored_schemas", lambda: ["pg_catalog"])
    assert fns.get("ignored_schemas")() == ["pg_catalog"]


def test_tables_in_plan(spark):
    a = spark.read.parquet(f"{SF001}/nation.parquet")
    b = spark.read.parquet(f"{SF001}/customer.parquet")
    # the reference's MDE idiom: left join … and false still declares the table
    import pyspark.sql.functions as F

    df = a.join(b, (a.n_nationkey == b.c_nationkey) & F.lit(False), "left")
    tables = tables_in_plan(df)
    joined = " ".join(tables)
    assert "nation" in joined and "customer" in joined
