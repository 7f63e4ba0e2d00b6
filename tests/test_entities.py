"""Tenants / MDEs / candidate ranking."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR
from schemamap_spark.entities import TENANTS_SCHEMA

from conftest import job_ids_in_group, jobs_in_group


def test_tenants_default_empty_then_override(spark, engine):
    assert engine.entities.list_tenants().count() == 0
    engine.entities.define_tenants(
        lambda s: s.read.parquet(f"{DEFAULT_FIXTURE_DIR}/tenants.parquet")
    )
    t = engine.entities.list_tenants()
    assert t.count() == 25
    assert [f.name for f in t.schema.fields] == [
        "tenant_id", "tenant_short_name", "tenant_display_name", "tenant_locale", "tenant_data",
    ]
    assert engine.verify_installation()["tenants_defined"] is True


def test_mde_registry(spark, engine):
    engine.entities.define_master_data_entity(
        "organizations",
        lambda s: s.read.parquet(f"{DEFAULT_FIXTURE_DIR}/organizations.parquet"),
    )
    assert [r.mde_name for r in engine.entities.list_mdes().collect()] == ["organizations"]
    assert spark.table("mde_organizations").count() == 200


def test_candidate_ranking(engine):
    cands = engine.master_data_entity_candidates()
    rows = cands.limit(10).collect()
    assert len(rows) == 10
    # scores in [0,1], descending
    probs = [r.probability_master_data for r in rows]
    assert all(0.0 <= p <= 1.0 for p in probs)
    assert probs == sorted(probs, reverse=True)
    # master-data tables (small + heavily referenced dims) rank on top
    assert rows[0].table_name == "organizations"


def test_i18n_roundtrip(engine):
    doc = json.load(open(f"{DEFAULT_FIXTURE_DIR}/i18n.json"))
    engine.update_i18n(doc)
    assert engine.i18n()["en"]["models"]["organizations"] == "Organizations"
    engine.update_i18n({"fr": {"models": {}}})
    assert set(engine.i18n()) == {"en", "de", "fr"}


def test_i18n_survives_engine_restart(spark, tmp_path):
    """With a warehouse the i18n store is persisted (reference keeps it
    in-database, SCHEMA:258-277) — a fresh engine over the same warehouse
    must see earlier updates."""
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    wh = str(tmp_path / "wh")
    first = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=wh)
    first.update_i18n({"en": {"models": {"organizations": "Organizations"}}})
    first.update_i18n({"de": {"models": {}}})

    reborn = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=wh)
    assert set(reborn.i18n()) == {"en", "de"}
    assert reborn.i18n()["en"]["models"]["organizations"] == "Organizations"


def test_warehouse_on_file_uri(spark, tmp_path):
    """The engine warehouse rides the fscommit seam: a file:// warehouse
    (the sandbox's stand-in for hdfs://) supports the snapshot refresh
    swap, re-reading the persisted SMO, and the i18n store across an
    engine restart — identically to a plain-path warehouse."""
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    wh = "file://" + str(tmp_path / "wh_uri")
    eng = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=wh)
    n1 = eng.refresh().count()
    assert n1 > 0
    n2 = eng.refresh().count()  # second refresh: swap over the existing dir
    assert n2 == n1
    import os

    assert not os.path.exists(str(tmp_path / "wh_uri" / "smo") + ".old")

    eng.update_i18n({"en": {"models": {"organizations": "Organizations"}}})
    reborn = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=wh)
    assert reborn.i18n()["en"]["models"]["organizations"] == "Organizations"

    plain = SchemamapEngine(
        spark, FixtureCatalog(spark), warehouse_dir=str(tmp_path / "wh_plain")
    )
    assert plain.refresh().count() == n1


def test_versioned_bootstrap_applies_once(tmp_path):
    """Flyway parity (reference core.clj:9-16): re-running init applies only
    missing versions; history records each applied migration."""
    from schemamap_spark.plans.versioning import Migration, SchemaVersionStore, apply_migrations

    wh = str(tmp_path)
    ran = []
    migs = [
        Migration(1, "layout", lambda: ran.append(1)),
        Migration(2, "seed", lambda: ran.append(2)),
    ]
    store = SchemaVersionStore(wh)
    assert apply_migrations(store, migs, dry_run=True) == ["V000001: layout", "V000002: seed"]
    assert ran == [] and store.current() == 0  # dry run: no actions, no records

    assert len(apply_migrations(store, migs)) == 2
    assert ran == [1, 2] and store.current() == 2
    assert apply_migrations(store, migs) == []  # idempotent re-run
    assert ran == [1, 2]

    migs.append(Migration(3, "upgrade", lambda: ran.append(3)))
    assert apply_migrations(store, migs) == ["V000003: upgrade"]
    assert store.current() == 3 and len(store.history()) == 3


def test_candidates_see_native_catalog_changes(spark):
    """ADVICE/VERDICT r18: SparkNativeCatalog's relations()/columns()
    enumerate the live Spark catalog EAGERLY into local-relation plans,
    so the engine's candidates plan memo would freeze the table set at
    first call. Such adapters must bypass the memo: a table created
    after the first candidates() call appears in the next one."""
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import SparkNativeCatalog

    engine = SchemamapEngine(spark, SparkNativeCatalog(spark))
    spark.range(3).toDF("id").createOrReplaceTempView("_tmp_native_probe")
    spark.sql(
        "create table if not exists native_cand_a as select id from _tmp_native_probe"
    )
    try:
        first = engine.master_data_entity_candidates()
        names1 = {r.table_name for r in first.collect()}
        assert "native_cand_a" in names1
        assert "native_cand_b" not in names1

        spark.sql(
            "create table if not exists native_cand_b as "
            "select id from _tmp_native_probe"
        )
        names2 = {
            r.table_name for r in engine.master_data_entity_candidates().collect()
        }
        assert "native_cand_b" in names2  # the r18 staleness bug: memo froze this out
    finally:
        spark.sql("drop table if exists native_cand_a")
        spark.sql("drop table if exists native_cand_b")
        spark.catalog.dropTempView("_tmp_native_probe")


def test_native_catalog_lists_a_temp_view_once_as_a_view(spark):
    """`listTables(db)` returns the session's temporary views for every
    database. With two databases, a managed table and a temp view, the temp
    view is one "v" relation under the current database, and its column is
    listed once."""
    from schemamap_spark.catalog import SparkNativeCatalog

    current = spark.catalog.currentDatabase()
    spark.sql("create database if not exists native_otherdb")
    spark.sql("create table if not exists native_otherdb.native_tbl as select 1 as id")
    spark.range(2).toDF("tv_id").createOrReplaceTempView("native_tv")
    try:
        native = SparkNativeCatalog(spark)
        names = ("native_tbl", "native_tv")
        rels = sorted(
            (r.schema_name, r.table_name, r.object_type)
            for r in native.relations().collect() if r.table_name in names
        )
        assert rels == sorted([("native_otherdb", "native_tbl", "r"), (current, "native_tv", "v")])
        cols = sorted(
            (r.schema_name, r.table_name, r.column_name)
            for r in native.columns().collect() if r.table_name in names
        )
        assert cols == sorted(
            [("native_otherdb", "native_tbl", "id"), (current, "native_tv", "tv_id")]
        )
    finally:
        spark.catalog.dropTempView("native_tv")
        spark.sql("drop database if exists native_otherdb cascade")


def test_candidates_memo_cleared_by_refresh(engine):
    """For lazy adapters the candidates plan memo is valid across calls
    (same prepared frame) but refresh() — the explicit re-read-the-catalog
    signal — must drop it."""
    c1 = engine.master_data_entity_candidates()
    assert engine.master_data_entity_candidates() is c1  # plan reuse
    engine.refresh()
    assert engine.master_data_entity_candidates() is not c1


def _fresh_engine(spark):
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    return SchemamapEngine(spark, FixtureCatalog(spark))


def test_status_json_runs_only_the_status_jobs(spark):
    """The tenant and MDE lists of status_json come from the driver-side
    registry: a warm status_json runs exactly the jobs of the status
    aggregate, and the registry and native-catalog frames plan without a
    PythonRDD scan."""
    from schemamap_spark.catalog import SparkNativeCatalog

    engine = _fresh_engine(spark)
    engine.entities.define_master_data_entity(
        "jobs_probe",
        lambda s: s.read.parquet(f"{DEFAULT_FIXTURE_DIR}/organizations.parquet"),
    )
    engine.status_json()  # warm: snapshot, plan memo, codegen
    status_jobs = jobs_in_group(spark, lambda: engine.status().collect())
    assert status_jobs > 0
    assert jobs_in_group(spark, engine.status_json) == status_jobs

    native = SparkNativeCatalog(spark)
    for df in (
        engine.entities.list_mdes(),
        engine.entities.list_tenants(),
        native.relations(),
        native.columns(),
        native.constraints(),
        native.indexes(),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        assert "LocalTableScan" in plan, plan
    assert [r.mde_name for r in engine.entities.list_mdes().collect()] == ["jobs_probe"]
    assert engine.entities.list_tenants().schema == TENANTS_SCHEMA
    assert native.constraints().count() == 0 and native.indexes().count() == 0


def test_user_define_keeps_the_status_memo(spark):
    """status() keys on the builtin concept definitions, the only ones its
    aggregate reads: after a warm status_json, a user define followed by
    status_json runs exactly the jobs of a memo hit."""
    engine = _fresh_engine(spark)
    engine.status_json()
    hit = jobs_in_group(spark, engine.status_json)

    def define_then_status():
        engine.concepts.define("jobs_probe", lambda smo: smo["attnum"] <= 2)
        return engine.status_json()

    assert jobs_in_group(spark, define_then_status) == hit


def test_status_memo_hit_reuses_shuffle_output(spark):
    """A memo hit re-runs the frame's finalized adaptive plan: every map
    stage of its jobs is skipped (it reads the first action's shuffle
    output), and only each job's result stage runs tasks."""
    engine = _fresh_engine(spark)
    engine.status().collect()
    jobs = job_ids_in_group(spark, lambda: engine.status().collect())
    tracker = spark.sparkContext.statusTracker()
    stages = [
        [tracker.getStageInfo(s) for s in tracker.getJobInfo(j).stageIds] for j in jobs
    ]
    assert any(len(st) > 1 for st in stages), stages  # there are map stages
    for st in stages:
        assert [s.numCompletedTasks > 0 for s in st].count(True) == 1, st


def test_refresh_writes_byte_stable_snapshot_files(spark, tmp_path):
    """Two refreshes of one unchanged catalog write files with identical
    content: the layout is a hash partitioning plus a per-partition sort on
    the unique (schema, table, column) key, with no sampled range bounds
    that move between runs. The catalog is the fixture replicated 20 times
    under tenant prefixes (perfbench's dashboard catalog, ~33k SMO rows), so
    the snapshot spans several files."""
    import hashlib
    import os

    from perfbench import gen

    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    catalog = gen.catalog(str(tmp_path / "catalog"), 1, 20)
    wh = str(tmp_path / "wh")
    engine = SchemamapEngine(spark, FixtureCatalog(spark, catalog), warehouse_dir=wh)

    def digests() -> list[str]:
        d = os.path.join(wh, "smo")
        return sorted(
            hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    engine.refresh()
    first = digests()
    engine.refresh()
    assert len(first) > 1 and digests() == first


def test_refresh_runs_no_range_sampler(spark, tmp_path):
    """refresh() writes its snapshot without a global sort, whose range
    sampler would compute the SMO joins a second time, and re-reads it
    with the written schema (no schema-inference job): 7 jobs per warm
    refresh, where the sorted write and the inferring re-read took 9."""
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    engine = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=str(tmp_path))
    engine.refresh()
    assert jobs_in_group(spark, engine.refresh) == 7


def _old_status_json(engine) -> str:
    """status_json as rendered before the registry lists moved to the
    driver: each list sorted by a Spark orderBy and collected."""
    row = engine.status().collect()[0].asDict()
    tenants = [
        r.asDict() for r in engine.entities.list_tenants().orderBy("tenant_id").collect()
    ]
    mdes = [r.asDict() for r in engine.entities.list_mdes().orderBy("mde_name").collect()]
    row["tenants"] = tenants or None
    row["master_data_entities"] = mdes or None
    return json.dumps(row, indent=2, sort_keys=True, default=str)


def _old_verify_installation(engine) -> dict:
    return {
        "tenants_defined": not engine.entities.list_tenants().isEmpty(),
        "mdes_defined": not engine.entities.list_mdes().isEmpty(),
    }


def test_status_json_and_verify_installation_match_old_rendering(spark):
    """Byte-identical status_json and the same verify_installation dict in
    the default, MDE-only and tenants-override cases. The override holds
    the fixture tenants plus a null tenant_id row, which orderBy puts
    first; ids are strings, so '10' sorts before '2'."""
    engine = _fresh_engine(spark)
    assert engine.status_json() == _old_status_json(engine)
    assert engine.verify_installation() == _old_verify_installation(engine)
    assert engine.verify_installation() == {"tenants_defined": False, "mdes_defined": False}

    engine.entities.define_master_data_entity(
        "parity_orgs",
        lambda s: s.read.parquet(f"{DEFAULT_FIXTURE_DIR}/organizations.parquet"),
    )
    assert engine.status_json() == _old_status_json(engine)
    assert engine.verify_installation() == _old_verify_installation(engine)
    assert engine.verify_installation() == {"tenants_defined": False, "mdes_defined": True}

    null_row = spark.createDataFrame(
        [(None, "nobody", "No Tenant", "en_US", None)], TENANTS_SCHEMA
    )
    engine.entities.define_tenants(
        lambda s: s.read.parquet(f"{DEFAULT_FIXTURE_DIR}/tenants.parquet").unionByName(null_row)
    )
    js = engine.status_json()
    assert js == _old_status_json(engine)
    tenants = json.loads(js)["tenants"]
    assert len(tenants) == 26
    assert [t["tenant_id"] for t in tenants[:4]] == [None, "1", "10", "11"]
    assert engine.verify_installation() == _old_verify_installation(engine)
    assert engine.verify_installation() == {"tenants_defined": True, "mdes_defined": True}
