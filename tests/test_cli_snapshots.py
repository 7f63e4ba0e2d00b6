"""CLI porcelain + snapshot manager + dry-run plan + count estimate."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(*args: str) -> tuple[int, str, str]:
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, "-m", "schemamap_spark.cli", *args],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=300,
    )
    return p.returncode, p.stdout, p.stderr


def test_cli_init_dry_run():
    code, out, _ = _run_cli("init", "--dry-run", "--warehouse", "/tmp/smwh_test")
    assert code == 0
    doc = json.loads(out)
    assert doc["dry_run"] is True
    assert len(doc["plan"]) == 4
    assert not os.path.exists("/tmp/smwh_test")  # dry run must not create


def test_cli_status_json():
    code, out, _ = _run_cli("status")
    assert code == 0
    doc = json.loads(out)
    assert doc["column_count"] > 1300
    assert doc["schema_count"] >= 10


def test_snapshot_roundtrip(tmp_path):
    from schemamap_spark.snapshots import SnapshotManager

    wh = tmp_path / "warehouse"
    wh.mkdir()
    (wh / "t.parquet").write_bytes(b"v1")
    mgr = SnapshotManager(str(wh))
    entry = mgr.create("before")
    assert entry["db_name"] == "before"

    (wh / "t.parquet").write_bytes(b"v2-changed")
    mgr2 = SnapshotManager(str(wh))
    mgr2.restore("before")
    assert (wh / "t.parquet").read_bytes() == b"v1"
    assert [e["db_name"] for e in SnapshotManager(str(wh)).list()] == ["before"]

    SnapshotManager(str(wh)).drop("before")
    assert SnapshotManager(str(wh)).list() == []


def test_count_estimate_close(engine, spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    est = engine.count_estimate(df)
    exact = df.count()
    assert abs(est - exact) / exact < 0.1  # SURVEY Q21 contract


def test_init_plan_dry_run_does_not_execute():
    from schemamap_spark.plans.dryrun import InitPlan

    hits = []
    plan = InitPlan().add("step1", lambda: hits.append(1)).add("step2", lambda: hits.append(2))
    assert plan.execute(dry_run=True) == ["step1", "step2"]
    assert hits == []
    plan.execute()
    assert hits == [1, 2]


def test_snapshot_roundtrip_on_file_uri(spark, tmp_path):
    """Round-8 port: the snapshot store's copy/swap/bookkeeping rides the
    fscommit seam, so a scheme warehouse (file:// here — the same Hadoop
    FileSystem code path hdfs:// takes) supports the full lifecycle.
    The git shellout stays driver-local (file:// resolves to its local
    dir; a remote scheme would fall back to the driver's cwd)."""
    import pytest

    from schemamap_spark.snapshots import SnapshotManager

    wh_local = tmp_path / "warehouse"
    wh_local.mkdir()
    (wh_local / "t.parquet").write_bytes(b"v1")
    wh = "file://" + str(wh_local)

    mgr = SnapshotManager(wh, spark=spark)
    entry = mgr.create("before")
    assert entry["db_name"] == "before"
    assert entry["template_db_name"] == "warehouse"

    (wh_local / "t.parquet").write_bytes(b"v2-changed")
    SnapshotManager(wh, spark=spark).restore("before")
    assert (wh_local / "t.parquet").read_bytes() == b"v1"
    # the snapshot store survived the swap and the listing still sees it
    assert [e["db_name"] for e in SnapshotManager(wh, spark=spark).list()] == [
        "before"
    ]
    # no stale .restoring / .old debris
    assert sorted(p.name for p in tmp_path.iterdir()) == ["warehouse"]

    SnapshotManager(wh, spark=spark).drop("before")
    assert SnapshotManager(wh, spark=spark).list() == []

    # copy+delete schemes refuse at construction, same as every store
    with pytest.raises(ValueError, match="copy\\+delete"):
        SnapshotManager("s3a://bucket/warehouse", spark=spark)

    # cross-filesystem snapshot stores refuse loudly (restore renames
    # between the two; renames don't cross schemes)
    with pytest.raises(ValueError, match="same filesystem"):
        SnapshotManager(wh, snapshots_dir=str(tmp_path / "snaps"), spark=spark)


def test_snapshot_inside_detection_is_normalized(tmp_path):
    """Review r8: inside-ness must not depend on path SPELLING — a
    double-slash or relative spelling of the default .snapshots location
    used to be misclassified as external, and restore() then deleted the
    whole snapshot store with the swapped-aside warehouse."""
    import os

    import pytest

    from schemamap_spark.snapshots import SnapshotManager

    wh = tmp_path / "warehouse"
    wh.mkdir()
    (wh / "t.parquet").write_bytes(b"v1")

    # non-canonical spelling of the default location: still 'inside'
    mgr = SnapshotManager(str(wh), snapshots_dir=str(wh) + "//.snapshots")
    assert mgr._inside is True
    mgr.create("s1")
    (wh / "t.parquet").write_bytes(b"v2")
    mgr.restore("s1")
    assert (wh / "t.parquet").read_bytes() == b"v1"
    # the store survived the swap
    assert [e["db_name"] for e in SnapshotManager(str(wh)).list()] == ["s1"]

    # relative spelling resolves through the cwd like any plain path
    cwd = os.getcwd()
    try:
        os.chdir(tmp_path)
        assert SnapshotManager("warehouse")._inside is True
    finally:
        os.chdir(cwd)

    # inside the warehouse but NOT at .snapshots: restore would destroy
    # it — refuse at construction instead
    with pytest.raises(ValueError, match="exactly"):
        SnapshotManager(str(wh), snapshots_dir=str(wh / "mysnaps"))
