"""Import pipeline: staging → mapping → validation → merge → state machine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR as FIX
from schemamap_spark.imports import ColumnRule, ImportPipeline, MigrationState
from schemamap_spark.imports.states import check_transition
from schemamap_spark.sources.merge import OptimisticLockError, merge_upsert
from schemamap_spark.sources.readers import read_staging_csv


ORG_MAPPINGS = {
    "id": ("id", "identity"),
    "name": ("name", "trim_str"),
    "website": ("website", "identity"),
}


def _import_orgs(spark, rules, pipe=None, column_mappings=ORG_MAPPINGS, casts=None):
    staging = read_staging_csv(spark, f"{FIX}/staging_organizations.csv")
    target = spark.read.parquet(f"{FIX}/organizations.parquet").select("id", "name", "website")
    return (pipe or ImportPipeline(spark)).run(
        staging, target, keys=["id"], column_mappings=column_mappings,
        casts=casts or {"id": "bigint"}, rules=rules,
    )


def test_full_import_run(spark):
    pipe = ImportPipeline(spark)
    res = _import_orgs(
        spark,
        [
            ColumnRule("name", not_null=True, min_length=3, max_length=255, unique=True),
            ColumnRule("website", like="http%"),
        ],
        pipe,
    )
    assert res.state is MigrationState.IMPORTED
    assert res.loaded_rows == 200
    assert res.violation_rows > 0         # the fixture plants ~10 violations
    assert res.valid_rows + res.violation_rows == 200
    # trimmed names made it through the mapping
    merged_names = {r.name for r in res.merged.collect()}
    assert all(not n.startswith(" ") for n in merged_names if n)

    dm = pipe.data_migrations().collect()
    assert len(dm) == 1 and dm[0].state == "IMPORTED" and dm[0].version == 3


def test_import_counts_single_scan(spark):
    """The funnel accounting (loaded/valid/violations) must be ONE aggregation
    over ONE scan of the staging lineage — three separate count() actions used
    to recompute scan+mapping+validation three times. A `unique` rule's
    duplicate keys are resolved by validate(), so they add no second scan."""
    from schemamap_spark.imports.pipeline import import_counts
    from schemamap_spark.imports.validation import validate
    from schemamap_spark.plans.dryrun import explain_str

    staging = read_staging_csv(spark, f"{FIX}/staging_organizations.csv")
    checked = validate(
        staging,
        [ColumnRule("name", not_null=True, min_length=3, unique=True)],
    )
    counts_df = import_counts(checked)
    # simple mode prints each physical node once ("formatted" repeats nodes
    # in the detail section, double-counting scans)
    plan = explain_str(counts_df, mode="simple")
    assert plan.count("Scan csv") + plan.count("Scan parquet") == 1
    row = counts_df.collect()[0]
    assert row.loaded == 200
    assert row.valid + row.violation_rows == row.loaded


def test_merged_plan_scans_staging_once(spark):
    """The merge reads the staging batch once: its plan carries the
    duplicate-key set as rows, not as an aggregate over the staging scan."""
    res = _import_orgs(spark, [ColumnRule("name", not_null=True, unique=True)])
    assert res.state is MigrationState.IMPORTED
    plan = res.merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan csv") == 1, plan
    assert "Aggregate" not in plan, plan


def test_import_aggregates_duplicate_keys_once(spark, tmp_path):
    """run() and one write of res.merged run the duplicate-key aggregation
    once, inside validate(): on a batch without duplicates a `unique` rule
    adds exactly the jobs of that one aggregation, and neither the funnel
    count nor the write re-runs it."""
    from schemamap_spark.imports.validation import validate
    from schemamap_spark.sources.sinks import write_parquet_atomic

    from conftest import jobs_in_group

    def import_and_write(unique):
        res = _import_orgs(spark, [ColumnRule("id", unique=unique), ColumnRule("website", like="http%")])
        assert res.state is MigrationState.IMPORTED
        write_parquet_atomic(res.merged, str(tmp_path / f"out_{unique}"))

    staging = read_staging_csv(spark, f"{FIX}/staging_organizations.csv")
    one_aggregation = jobs_in_group(spark, lambda: validate(staging, [ColumnRule("id", unique=True)]))
    assert one_aggregation > 0
    without = jobs_in_group(spark, lambda: import_and_write(False))
    assert jobs_in_group(spark, lambda: import_and_write(True)) == without + one_aggregation


def test_dotted_header_imports_and_validates(spark, tmp_path):
    """Staging columns are named by the header row, and spreadsheet headers
    often contain dots: a dotted name is one column, not a struct path."""
    from schemamap_spark.imports.validation import validate

    p = tmp_path / "dotted.csv"
    p.write_text("id,user.email,name\n1,a@x.test,Ada\n2,bad,Bob\n3,a@x.test,Cy\n4,c@x.test,Di\n")
    staging = read_staging_csv(spark, str(p))
    ref = spark.createDataFrame([("a@x.test",), ("bad",)], "`ref.email` string")
    checked = validate(
        staging, [ColumnRule("user.email", like="%@%", unique=True, fk=(ref, "ref.email"))]
    )
    assert {r.id: sorted(r.violations) for r in checked.collect()} == {
        "1": ["user.email:unique"],
        "2": ["user.email:like"],
        "3": ["user.email:unique"],
        "4": ["user.email:fk"],
    }

    target = spark.createDataFrame([(1, "old@x.test")], "id long, email string")
    res = ImportPipeline(spark).run(
        staging, target, keys=["id"],
        column_mappings={"id": ("id", "identity"), "user.email": ("email", "trim_str")},
        casts={"id": "bigint"}, rules=[ColumnRule("email", like="%@%")],
    )
    assert res.state is MigrationState.IMPORTED, res.summary
    assert sorted(map(tuple, res.merged.collect())) == [
        (1, "a@x.test"), (3, "a@x.test"), (4, "c@x.test"),
    ]


def test_unresolvable_mapping_is_load_failed(spark):
    """A cast of a column the mapping does not produce, or a mapping of a
    column the staging batch lacks, ends the import in LOAD_FAILED."""
    pipe = ImportPipeline(spark)
    res = _import_orgs(spark, [], pipe, casts={"id": "bigint", "nope": "int"})
    assert res.state is MigrationState.LOAD_FAILED and "nope" in res.summary["error"]
    res = _import_orgs(spark, [], pipe, column_mappings={"missing": ("id", "identity")})
    assert res.state is MigrationState.LOAD_FAILED and "missing" in res.summary["error"]
    assert [r.state for r in pipe.data_migrations().collect()] == ["LOAD_FAILED"] * 2


def test_fk_validation(spark):
    staging = read_staging_csv(spark, f"{FIX}/staging_projects.csv")
    orgs = spark.read.parquet(f"{FIX}/organizations.parquet")
    target = spark.read.parquet(f"{FIX}/projects.parquet").select(
        "id", "organization_id", "name"
    )
    pipe = ImportPipeline(spark)
    res = pipe.run(
        staging=staging,
        target=target,
        keys=["id"],
        column_mappings={
            "id": ("id", "identity"),
            "organization_id": ("organization_id", "identity"),
            "name": ("name", "trim_str"),
        },
        casts={"id": "bigint", "organization_id": "bigint"},
        rules=[ColumnRule("organization_id", fk=(orgs, "id"))],
        mde_name="projects",
    )
    assert res.state is MigrationState.IMPORTED
    assert res.violation_rows == 20  # planted orphans
    kinds = {v for r in res.violations.select("violations").collect() for v in r.violations}
    assert kinds == {"organization_id:fk"}


def test_state_machine_guards():
    with pytest.raises(ValueError):
        check_transition(MigrationState.LOADING, MigrationState.IMPORTED)
    check_transition(MigrationState.LOADING, MigrationState.LOADED)


def test_optimistic_lock_raises(spark):
    target = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "id long, name string, version long"
    )
    stale = spark.createDataFrame([(1, "A", 99)], "id long, name string, version long")
    with pytest.raises(OptimisticLockError):
        merge_upsert(target, stale, keys=["id"], update_cols=["name"], version_col="version")


def test_merge_inserts_unmatched(spark):
    target = spark.createDataFrame([(1, "a", 0)], "id long, name string, version long")
    updates = spark.createDataFrame(
        [(1, "A", 0), (2, "new", 0)], "id long, name string, version long"
    )
    out = {r.id: (r.name, r.version) for r in
           merge_upsert(target, updates, keys=["id"], update_cols=["name"],
                        version_col="version").collect()}
    assert out[1] == ("A", 1)    # matched: updated + version bump
    assert out[2] == ("new", 0)  # inserted with its version


def test_split_comma_mapping(spark):
    staging = read_staging_csv(spark, f"{FIX}/staging_organizations.csv")
    from schemamap_spark.mapping.bidi import BidiMappingRegistry

    reg = BidiMappingRegistry()
    fwd = reg.forward("split_comma_array")
    back = reg.backward("split_comma_array")
    rt = staging.select(
        "tags", back(fwd(F.col("tags"))).alias("roundtrip")
    ).filter(F.col("tags") != F.col("roundtrip"))
    assert rt.count() == 0  # exact=True mapping round-trips losslessly


def test_export_backward_roundtrip(spark):
    """exact=True mappings must round-trip: import forward then export
    backward reproduces the staging values."""
    staging = read_staging_csv(spark, f"{FIX}/staging_organizations.csv")
    pipe = ImportPipeline(spark)
    imported = staging.select(
        pipe.mappings.forward("split_comma_array")(F.col("tags")).alias("tags_arr"),
        F.col("tags").alias("orig"),
    )
    exported = pipe.export(imported, {"tags_arr": ("tags", "split_comma_array")})
    joined = imported.select("orig").join(
        exported.select(F.col("tags").alias("back")), F.col("orig") == F.col("back"), "left_anti"
    )
    # every original has a matching exported value (multiset equality via anti-join both ways)
    assert joined.count() == 0


def _write_minimal_xlsx(path, rows, shared_strings=False):
    """Hand-rolled SpreadsheetML writer so the reader test needs no client
    library: header + data rows; strings as sharedStrings or inline."""
    import zipfile

    shared, cells_xml = [], []

    def sref(s):
        if s not in shared:
            shared.append(s)
        return shared.index(s)

    for ri, row in enumerate(rows, start=1):
        cs = []
        for ci, val in enumerate(row):
            if val is None:
                continue
            col = chr(ord("A") + ci)
            if isinstance(val, (int, float)):
                cs.append(f'<c r="{col}{ri}"><v>{val}</v></c>')
            elif shared_strings:
                cs.append(f'<c r="{col}{ri}" t="s"><v>{sref(val)}</v></c>')
            else:
                cs.append(f'<c r="{col}{ri}" t="inlineStr"><is><t>{val}</t></is></c>')
        cells_xml.append(f'<row r="{ri}">{"".join(cs)}</row>')

    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pr = "http://schemas.openxmlformats.org/package/2006/relationships"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/></Types>')
        z.writestr("_rels/.rels",
            f'<Relationships xmlns="{pr}"><Relationship Id="rId1" '
            f'Type="{r}/officeDocument" Target="xl/workbook.xml"/></Relationships>')
        z.writestr("xl/workbook.xml",
            f'<workbook xmlns="{m}" xmlns:r="{r}"><sheets>'
            f'<sheet name="Staging" sheetId="1" r:id="rId1"/></sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels",
            f'<Relationships xmlns="{pr}">'
            f'<Relationship Id="rId1" Type="{r}/worksheet" Target="worksheets/sheet1.xml"/>'
            + (f'<Relationship Id="rId2" Type="{r}/sharedStrings" Target="sharedStrings.xml"/>'
               if shared_strings else "")
            + "</Relationships>")
        z.writestr("xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{m}"><sheetData>{"".join(cells_xml)}</sheetData></worksheet>')
        if shared_strings:
            sst = "".join(f"<si><t>{s}</t></si>" for s in shared)
            z.writestr("xl/sharedStrings.xml",
                f'<sst xmlns="{m}" count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>')


def test_read_staging_xlsx_inline_and_shared(spark, tmp_path):
    from schemamap_spark.sources.readers import read_staging_xlsx

    rows = [
        ("id", "name", "website"),
        (1, "Acme Corp", "https://acme.test"),
        (2, "Globex", None),          # sparse row: missing cell -> null
        (3, "Initech", "https://initech.test"),
    ]
    for shared in (False, True):
        p = str(tmp_path / f"orgs_{shared}.xlsx")
        _write_minimal_xlsx(p, rows, shared_strings=shared)
        df = read_staging_xlsx(spark, p)
        assert df.columns == ["id", "name", "website"]
        assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 3
        got = {tuple(r) for r in df.collect()}
        assert ("2", "Globex", None) in got
        assert ("1", "Acme Corp", "https://acme.test") in got
        assert len(got) == 3


def test_read_staging_xlsx_feeds_validation(spark, tmp_path):
    """The XLSX path must be pipeline-identical to CSV staging: same
    all-string contract into mapping + validation."""
    from schemamap_spark.imports import ColumnRule, validate
    from schemamap_spark.sources.readers import read_staging_xlsx

    p = str(tmp_path / "stage.xlsx")
    _write_minimal_xlsx(p, [
        ("id", "name", "website"),
        (1, "ok name", "https://x.test"),
        (2, "ab", "ftp://bad"),        # min_length + like violations
    ])
    staging = read_staging_xlsx(spark, p)
    checked = validate(
        staging.select(F.col("id").cast("bigint").alias("id"), "name", "website"),
        [ColumnRule("name", min_length=3), ColumnRule("website", like="http%")],
    )
    viols = {
        (r.id, v) for r in checked.collect() for v in r.violations
    }
    assert viols == {(2, "name:min_length"), (2, "website:like")}


def test_read_staging_xlsx_sheet_selection(spark, tmp_path):
    import pytest

    from schemamap_spark.sources.readers import read_staging_xlsx

    p = str(tmp_path / "one.xlsx")
    _write_minimal_xlsx(p, [("a", "b"), ("1", "2")])
    assert read_staging_xlsx(spark, p, sheet="Staging").count() == 1
    with pytest.raises(ValueError):
        read_staging_xlsx(spark, p, sheet="NoSuchSheet")


def test_sheet_values_adapter_ragged_rows(spark):
    """Sheets API payloads omit trailing empty cells and may return typed
    values; the adapter pads to header width and stringifies."""
    from schemamap_spark.sources.readers import read_google_sheet, sheet_values_to_df

    values = [
        ["name", "email", "active"],
        ["Ada", "ada@example.com", True],
        ["Grace"],                      # ragged: API dropped trailing cells
        ["Edsger", "ed@example.com"],
        [42, None, False],              # typed cells
    ]
    df = sheet_values_to_df(spark, values)
    assert df.columns == ["name", "email", "active"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 3
    rows = {r["name"]: r for r in df.collect()}
    assert rows["Grace"]["email"] is None and rows["Grace"]["active"] is None
    assert rows["42"]["active"] == "false"

    # transport is injectable; without a client the reader raises
    out = read_google_sheet(spark, "sheet-id", "A:C", fetch_values=lambda s, r: values)
    assert out.count() == 4
    with pytest.raises(NotImplementedError):
        read_google_sheet(spark, "sheet-id")


def test_soql_csv_batches_adapter(spark):
    """Bulk API 2.0 returns per-page CSV documents, each with a header; the
    adapter drops repeated headers, validates consistency, handles quoting."""
    from schemamap_spark.sources.readers import read_salesforce, soql_csv_batches_to_df

    b1 = 'Id,Name,AnnualRevenue\n001,"Acme, Inc.",100\n002,Globex,200\n'
    b2 = 'Id,Name,AnnualRevenue\n003,"Quote ""Q"" Co",\n'
    df = soql_csv_batches_to_df(spark, [b1, "", b2])
    assert df.columns == ["Id", "Name", "AnnualRevenue"]
    rows = {r.Id: r for r in df.collect()}
    assert rows["001"].Name == "Acme, Inc."
    assert rows["003"].Name == 'Quote "Q" Co'
    assert rows["003"].AnnualRevenue == ""

    with pytest.raises(ValueError):
        soql_csv_batches_to_df(spark, [b1, "Other,Header\nx,y\n"])
    with pytest.raises(ValueError):
        soql_csv_batches_to_df(spark, ["", "   "])

    out = read_salesforce(spark, "select Id from Account", fetch_batches=lambda q: [b1])
    assert out.count() == 2
    with pytest.raises(NotImplementedError):
        read_salesforce(spark, "select Id from Account")


def test_sheet_values_header_hygiene(spark):
    """Empty/whitespace header cells fall back to positional names and
    duplicate headers get a positional suffix — no invalid schema fragments,
    no ambiguous duplicate columns."""
    from schemamap_spark.sources.readers import sheet_values_to_df

    values = [
        ["name", "", "   ", None, "name", "id"],
        ["Ada", "x", "y", "z", "dup", "1"],
    ]
    df = sheet_values_to_df(spark, values)
    assert df.columns == ["name", "col_1", "col_2", "col_3", "name_4", "id"]
    r = df.collect()[0]
    assert r["name"] == "Ada" and r["name_4"] == "dup" and r["col_2"] == "y"
    # selecting a formerly-duplicate column is unambiguous
    assert df.select("name_4").collect()[0][0] == "dup"


def test_reconcile_attaches_master_ids(spark):
    """Pre-merge MDM reconciliation over the fixture app: padded staged
    names resolve to their master organization id; corrupted names get a
    null matched_id (the create-new-entity path); row count is preserved."""
    from schemamap_spark.imports.pipeline import ImportPipeline

    staging = spark.read.parquet(f"{FIX}/staging_organizations_csv.parquet")
    master = spark.read.parquet(f"{FIX}/organizations.parquet")
    pipe = ImportPipeline(spark)
    out = pipe.reconcile(staging, master, match_col="name", threshold=0.9)

    assert out.count() == staging.count()
    rows = list(out.collect())
    # every UNCORRUPTED staged row ("  Org NNN " for its own id) resolves to
    # its master org at jaccard 1.0 (fixture corruption: a few names are
    # " ab " or another org's name — data-driven, not a fixed id set)
    clean = [r for r in rows if r.name == f"  Org {int(r.id):03d} "]
    assert len(clean) > 180
    assert all(r.matched_id == int(r.id) and r.match_jaccard == 1.0 for r in clean)
    # the corrupted " ab " names clear nothing at 0.9 -> create-new path
    unmatched = [r for r in rows if r.matched_id is None]
    assert unmatched and all(r.name == " ab " for r in unmatched)
