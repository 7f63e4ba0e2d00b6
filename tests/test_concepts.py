"""Concept semantics + dynamic registry + status aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from schemamap_spark.concepts.registry import ConceptRegistry


def test_builtin_concepts_present(engine):
    wide = engine.columns()
    names = {f.name for f in wide.schema.fields}
    for n in [
        "is_pii", "is_metadata", "is_schema_migration_table", "is_primary_key",
        "is_foreign_key", "is_unique_key", "is_check_constrained",
        "is_exclusion_constrained", "is_indexed", "is_generated",
        "is_natural_key", "is_surrogate_key", "is_self_reference",
        "is_external_reference", "is_ignored_table",
    ]:
        assert n in names


def test_surrogate_xor_natural(engine):
    wide = engine.columns()
    both = wide.filter(F.col("is_surrogate_key") & F.col("is_natural_key")).count()
    assert both == 0
    pk = wide.filter(F.col("is_primary_key"))
    assert pk.count() == pk.filter(F.col("is_surrogate_key") | F.col("is_natural_key")).count()


def test_migration_table_concept(engine):
    wide = engine.columns()
    migr = wide.filter(F.col("is_schema_migration_table")).select("table_name").distinct()
    names = {r.table_name for r in migr.collect()}
    assert names == {"schema_migrations", "flyway_schema_history"}


def test_define_concept_idempotent(engine):
    """Reference defines a concept twice and expects no error/drift
    (core_test.clj:163-171)."""
    reg = engine.concepts
    for _ in range(2):
        reg.define("has_default", lambda smo: smo["default_value"].isNotNull())
    wide = engine.columns()
    assert "is_has_default" in [f.name for f in wide.schema.fields]
    n1 = wide.filter(F.col("is_has_default")).count()
    n2 = engine.smo().filter(F.col("default_value").isNotNull()).count()
    assert n1 == n2


def test_invalid_concept_name_rejected():
    reg = ConceptRegistry()
    import pytest

    with pytest.raises(ValueError):
        reg.define("bad name; drop table", lambda smo: F.lit(True))


def test_status_consistency(engine):
    st = engine.status().collect()[0]
    assert st.schema_count >= 10
    assert st.column_count > 1300
    assert st.table_count > 100
    assert st.schema_migration_table_count == 2
    assert st.ignored_table_count == st.schema_migration_table_count
    assert st.surrogate_key_count + st.natural_key_count == st.primary_key_count
    assert st.pii_count > 0 and st.indexed_count > 0


def test_columns_plan_memo_invalidation(spark):
    """columns() memoizes the concept-wide frame per (registry version, SMO
    snapshot); status() per (builtin concept definitions, SMO snapshot),
    the only concepts its aggregate reads. The memo must be invisible:
    repeated calls return the same prepared frame (no per-call expression
    rebuild), a define_concept invalidates columns() immediately and
    status() when it redefines a builtin, and refresh() rebinds both to the
    new snapshot. A fresh engine: the builtin redefinition must not leak."""
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog
    from schemamap_spark.concepts.builtins import BUILTIN_CONCEPTS

    engine = SchemamapEngine(spark, FixtureCatalog(spark))
    w1 = engine.columns()
    assert engine.columns() is w1  # plan reuse, not a rebuild
    s1 = engine.status()
    assert engine.status() is s1

    engine.concepts.define("memo_probe", lambda smo: smo["column_name"].isNotNull())
    w2 = engine.columns()
    assert w2 is not w1
    assert "is_memo_probe" in [f.name for f in w2.schema.fields]
    assert engine.status() is s1  # a user concept adds no status counter

    engine.concepts.define("pii", lambda smo: BUILTIN_CONCEPTS["pii"](smo))
    s2 = engine.status()
    assert s2 is not s1  # a redefined builtin changes what status counts
    assert s2.collect() == s1.collect()  # (same rule, new definition)

    smo_before = engine.smo()
    engine.refresh()
    assert engine.smo() is not smo_before
    w3 = engine.columns()
    assert w3 is not w2  # new snapshot -> new plan
    assert "is_memo_probe" in [f.name for f in w3.schema.fields]
    assert engine.status() is not s2


def test_builtin_sql_forms_match_column_forms(engine):
    """r19: wide_columns compiles un-overridden builtins from
    BUILTIN_CONCEPT_SQL (one JVM parse each) instead of the F.exists
    Column lambdas (a dozen py4j round trips each). The two forms must
    be indistinguishable row-for-row over the full fixture SMO —
    including NULL default_value/definition rows — or q22's oracle hash
    would drift."""
    from schemamap_spark.concepts.builtins import (
        BUILTIN_CONCEPT_SQL,
        BUILTIN_CONCEPTS,
    )

    smo = engine.smo()
    assert set(BUILTIN_CONCEPT_SQL) == set(BUILTIN_CONCEPTS)
    sql_side = smo.select(
        "schema_name", "table_name", "column_name",
        *[F.expr(s).alias(n) for n, s in sorted(BUILTIN_CONCEPT_SQL.items())],
    )
    col_side = smo.select(
        "schema_name", "table_name", "column_name",
        *[fn(smo).alias(n) for n, fn in sorted(BUILTIN_CONCEPTS.items())],
    )
    a = sorted(map(tuple, sql_side.collect()))
    b = sorted(map(tuple, col_side.collect()))
    assert a == b


def test_overridden_builtin_uses_column_factory(engine):
    """A user redefinition of a builtin name must win over the SQL fast
    path (the `fn is BUILTIN_CONCEPTS[name]` identity guard)."""
    engine.concepts.define("pii", lambda smo: F.lit(True))
    wide = engine.columns()
    assert wide.filter(~F.col("is_pii")).head(1) == []
