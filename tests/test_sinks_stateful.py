"""JDBC sink SQL assembly, atomic parquet writes, stateful streaming op,
migration-bookkeeping persistence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR
from schemamap_spark.session import load_table
from schemamap_spark.sources.sinks import staged_merge_sql, write_parquet_atomic

from conftest import SF001


def test_staged_merge_sql():
    sql = staged_merge_sql(
        "staging_orgs", "public.organizations",
        columns=["id", "name", "website"], keys=["id"],
    )
    assert "insert into public.organizations (id, name, website)" in sql
    assert "on conflict (id) do update set name = excluded.name, website = excluded.website" in sql


def test_staged_merge_sql_rejects_injection():
    with pytest.raises(ValueError):
        staged_merge_sql("s; drop table x", "t", ["a"], ["a"])
    with pytest.raises(ValueError):
        staged_merge_sql("s", "t", ["a b"], ["a"])


def test_write_parquet_atomic_swap(spark, tmp_path):
    target = str(tmp_path / "tbl")
    df1 = spark.range(10).withColumnRenamed("id", "v")
    write_parquet_atomic(df1, target)
    assert spark.read.parquet(target).count() == 10
    df2 = spark.range(3).withColumnRenamed("id", "v")
    write_parquet_atomic(df2, target, ordered_by=["v"])
    assert spark.read.parquet(target).count() == 3  # replaced, not appended


def test_swap_writers_refuse_non_local_paths(spark, tmp_path):
    """Writers refuse copy+delete-rename schemes loudly (s3a and friends
    fake rename, so the atomic-swap crash contract does not hold), and
    route real-rename schemes through the Hadoop FileSystem API — proven
    end-to-end on a file:// URI, the same code path an hdfs:// warehouse
    takes. The same seam serves the ANN index store."""
    from schemamap_spark.sources.sinks import (
        compact_parquet_dir,
        write_point_lookup_optimized,
        write_range_sorted,
        write_zordered,
    )

    df = spark.range(4).withColumnRenamed("id", "v")
    for fn, args in [
        (write_parquet_atomic, (df, "s3://bucket/tbl")),
        (write_range_sorted, (df, "s3a://bucket/tbl", ["v"])),
        (write_zordered, (df, "gs://bucket/tbl", ["v"])),
        (write_point_lookup_optimized, (df, "s3://b/t", ["v"])),
        (compact_parquet_dir, (spark, "abfss://c@a/t")),
    ]:
        with pytest.raises(ValueError, match="copy\\+delete"):
            fn(*args)

    # file:// routes through the Hadoop FS seam: atomic-swap write,
    # overwrite of an existing store, and compaction all work; results
    # identical to the plain-path writer
    target = "file://" + str(tmp_path / "uri_tbl")
    write_parquet_atomic(df, target)
    write_parquet_atomic(df.withColumn("v", F.col("v") * 2), target)  # swap over old
    got = sorted(r.v for r in spark.read.parquet(target).collect())
    assert got == [0, 2, 4, 6]
    import os

    assert not os.path.exists(str(tmp_path / "uri_tbl") + ".old")
    n = compact_parquet_dir(spark, target, target_file_bytes=1 << 30)
    assert n == 1
    assert sorted(r.v for r in spark.read.parquet(target).collect()) == got

    ranged = "file://" + str(tmp_path / "uri_ranged")
    write_range_sorted(df, ranged, ["v"], num_files=2)
    assert sorted(r.v for r in spark.read.parquet(ranged).collect()) == [0, 1, 2, 3]

    # crash recovery parity: a stale '<target>.old' from an interrupted
    # swap must not wedge the next URI-path write either
    os.makedirs(str(tmp_path / "uri_tbl") + ".old/junk")
    write_parquet_atomic(df, target)
    assert spark.read.parquet(target).count() == 4
    assert not os.path.exists(str(tmp_path / "uri_tbl") + ".old")


def test_write_parquet_atomic_recovers_from_stale_old(spark, tmp_path):
    """A '<target>.old' left behind by a crashed swap must not wedge the next
    write (os.rename onto a non-empty dir raises ENOTEMPTY)."""
    import os

    target = str(tmp_path / "tbl")
    write_parquet_atomic(spark.range(5).withColumnRenamed("id", "v"), target)
    os.makedirs(target + ".old")
    with open(target + ".old/leftover", "w") as f:
        f.write("stale")
    write_parquet_atomic(spark.range(7).withColumnRenamed("id", "v"), target)
    assert spark.read.parquet(target).count() == 7
    assert not os.path.exists(target + ".old")


def test_running_user_stats_stateful(spark, tmp_path):
    from schemamap_spark.streaming import start_memory_sink, stream_events_from_directory
    from schemamap_spark.streaming.pipeline import running_user_stats

    d = str(tmp_path / "ev")
    ev = load_table(spark, SF001, "events").limit(500)
    ev.repartition(2).write.mode("overwrite").parquet(d)

    stream = stream_events_from_directory(spark, d)
    q = start_memory_sink(running_user_stats(stream), "user_stats", output_mode="update")
    q.processAllAvailable()
    q.stop()

    # last emitted state per user must equal the batch aggregate
    got_df = spark.table("user_stats")
    latest = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in got_df.collect()}
    want = {
        r.user_id: (r.n, round(r.total, 2))
        for r in spark.read.parquet(d)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    # update-mode emits one row per batch; with availableNow all files land in
    # one batch per source file set — the final row per user is the total
    for uid, (n, total) in want.items():
        assert latest[uid][0] == n
        assert abs(latest[uid][1] - total) < 0.05


def test_migrations_persistence(spark, tmp_path):
    from schemamap_spark.imports import ColumnRule, ImportPipeline
    from schemamap_spark.sources.readers import read_staging_csv

    staging = read_staging_csv(spark, f"{DEFAULT_FIXTURE_DIR}/staging_organizations.csv")
    target = spark.read.parquet(f"{DEFAULT_FIXTURE_DIR}/organizations.parquet").select("id", "name")
    pipe = ImportPipeline(spark)
    pipe.run(
        staging=staging, target=target, keys=["id"],
        column_mappings={"id": ("id", "identity"), "name": ("name", "trim_str")},
        casts={"id": "bigint"},
        rules=[ColumnRule("name", not_null=True)],
    )
    path = str(tmp_path / "migrations")
    pipe.save_migrations(path)

    pipe2 = ImportPipeline(spark)
    pipe2.load_migrations(path)
    rows = pipe2.data_migrations().collect()
    assert len(rows) == 1 and rows[0].state == "IMPORTED"
    assert pipe2._next_id == 2
