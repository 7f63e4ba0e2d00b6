"""Skew/bucketing helpers, type mapping, streaming dedup, source stubs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schemamap_spark.catalog.types import pg_type_to_spark, spark_type_to_pg
from schemamap_spark.operators.skew import bucketed_join, salted_join, write_bucketed
from schemamap_spark.session import load_table
from conftest import SF001


def test_salted_join_equals_plain_join(spark):
    c = load_table(spark, SF001, "customer")
    n = load_table(spark, SF001, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    plain = c.join(n, "c_nationkey").groupBy("n_name").count()
    salted = salted_join(c, n, "c_nationkey").groupBy("n_name").count()
    assert {(r.n_name, r["count"]) for r in plain.collect()} == {
        (r.n_name, r["count"]) for r in salted.collect()
    }


def test_bucketed_join_no_shuffle(spark):
    from schemamap_spark.plans.dryrun import explain_str

    o = load_table(spark, SF001, "orders")
    c = load_table(spark, SF001, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    write_bucketed(o, "b_orders", "o_custkey", 8)
    write_bucketed(c, "b_customers", "o_custkey", 8)
    joined = bucketed_join(spark, "b_orders", "b_customers", "o_custkey")
    plan = explain_str(joined)
    # co-located: no shuffle Exchange (broadcast would also be shuffle-free,
    # so disqualify it to prove bucketing did the work)
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == o.count()


def test_scan_pushdown_and_broadcast_plan_invariants(spark):
    """Pin the plan properties the 100 TB story depends on: filters reach the
    parquet scan, projection prunes the read schema, and dim joins broadcast.
    A regression here multiplies scan bytes at scale even though results
    stay correct."""
    from schemamap_spark.plans.dryrun import explain_str
    from schemamap_spark.suite.relational import q02_filter_in, q03_join_agg

    sf = SF001
    p2 = explain_str(q02_filter_in(spark, sf))
    assert "In(o_orderstatus, [F,O])" in p2          # IN-list pushed to scan
    assert "GreaterThan(o_totalprice,1000.0)" in p2  # range pushed to scan
    # column pruning: only the 3 referenced columns are read, not all 9
    read = [l for l in p2.splitlines() if "ReadSchema" in l][0]
    assert "o_orderkey" in read and "o_comment" not in read and "o_custkey" not in read

    p3 = explain_str(q03_join_agg(spark, sf))
    assert "BroadcastHashJoin" in p3                 # dim side broadcast
    assert "SortMergeJoin" not in p3


def test_cosine_near_pairs_no_bnlj_and_exact(spark):
    """The embedding near-dup join must be candidate-pruned equi-joins, never
    an all-pairs BroadcastNestedLoopJoin, and the metric prune must be
    lossless: result equals the brute-force all-pairs answer."""
    from schemamap_spark.operators.similarity import cosine, cosine_near_pairs
    from schemamap_spark.plans.dryrun import explain_str

    emb = load_table(spark, SF001, "embeddings")
    pruned = cosine_near_pairs(emb, threshold=0.45)
    assert "BroadcastNestedLoopJoin" not in explain_str(pruned)

    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"))
    brute = (
        a.join(b, F.col("i") < F.col("j"))
        .select("i", "j", cosine(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= 0.45)
        .select("i", "j", F.round("sim", 6).alias("cosine_sim"))
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, brute.collect()))


def test_pg_type_mapping_roundtrips():
    cases = {
        "text": "string",
        "character varying(50)": "string",
        "numeric(10,2)": "decimal(10,2)",
        "timestamp with time zone": "timestamp",
        "uuid": "string",
        "bigint": "bigint",
        "integer[]": "array<int>",
        "boolean": "boolean",
    }
    for pg, sp in cases.items():
        assert pg_type_to_spark(pg) == sp
    assert spark_type_to_pg("decimal(10,2)") == "numeric(10,2)"
    assert spark_type_to_pg("array<bigint>") == "bigint[]"
    assert spark_type_to_pg("timestamp") == "timestamp with time zone"


def test_streaming_dedup(spark, tmp_path):
    from schemamap_spark.streaming import start_memory_sink, stream_events_from_directory
    from schemamap_spark.streaming.pipeline import deduplicated_stream

    d = str(tmp_path / "dup_events")
    ev = load_table(spark, SF001, "events").limit(200)
    ev.write.mode("overwrite").parquet(d)
    ev.write.mode("append").parquet(d)  # every event twice

    stream = stream_events_from_directory(spark, d)
    q = start_memory_sink(deduplicated_stream(stream), "dedup_events")
    q.processAllAvailable()
    q.stop()
    got = spark.table("dedup_events").count()
    assert got == 200  # duplicates dropped within the watermark


def test_declared_source_stubs(spark):
    from schemamap_spark.sources.readers import read_google_sheet, read_salesforce

    with pytest.raises(NotImplementedError):
        read_google_sheet(spark, "sheet-id")
    with pytest.raises(NotImplementedError):
        read_salesforce(spark, "SELECT Id FROM Account")


def test_range_sorted_write_gives_disjoint_file_ranges(spark, tmp_path):
    """Sort-on-write layout: each parquet file's (min,max) of the sort key
    must be disjoint from every other file's (boundary value aside), so
    min/max footer stats can prune whole files for range predicates —
    asserted directly on the footers via pyarrow, not on plan text."""
    import os

    import pyarrow.parquet as pq

    from schemamap_spark.sources.sinks import write_range_sorted

    events = load_table(spark, SF001, "events")
    target = str(tmp_path / "events_sorted")
    write_range_sorted(events, target, ["user_id"], num_files=8)

    ranges = []
    for fn in os.listdir(target):
        if not fn.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(target, fn))
        idx = md.schema.names.index("user_id")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) > 1  # actually split into multiple files
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges ({lo1},{hi1}) vs ({lo2},…)"

    # content equivalence under a range predicate
    lo = events.agg(F.expr("percentile(user_id, 0.4)")).head()[0]
    want = events.filter(F.col("user_id") <= lo).count()
    got = spark.read.parquet(target).filter(F.col("user_id") <= lo).count()
    assert got == want


def test_range_sorted_write_defaults_to_batch_shuffle_width(spark, tmp_path):
    """Without num_files, write_range_sorted writes one range partition per
    batch shuffle partition (8 on the test session), not one per core."""
    import os

    from schemamap_spark.sources.sinks import write_range_sorted

    target = str(tmp_path / "ids_sorted")
    write_range_sorted(spark.range(10_000), target, ["id"])
    assert len([f for f in os.listdir(target) if f.endswith(".parquet")]) == 8


def test_zorder_column_is_morton_interleaving(spark):
    """bits=2 over two 0..3 columns: min/max scaling is the identity, so the
    key must equal the hand-computed Morton code (x bits at even positions,
    y bits at odd)."""
    from schemamap_spark.sources.sinks import zorder_column

    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x long, y long")
    keyed, key = zorder_column(df, ["x", "y"], bits=2)
    got = {(r.x, r.y): r[key] for r in keyed.collect()}
    for x, y in rows:
        want = 0
        for i in range(2):
            want |= ((x >> i) & 1) << (2 * i)
            want |= ((y >> i) & 1) << (2 * i + 1)
        assert got[(x, y)] == want, (x, y)


def _overlapping_files(target, preds):
    """Count parquet files whose footer min/max CANNOT exclude a conjunction
    of column range predicates {col: (lo, hi)} — what a scan planner reads."""
    import os

    import pyarrow.parquet as pq

    total, overlapping = 0, 0
    for fn in sorted(os.listdir(target)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(target, fn))
        total += 1
        hit = True
        for col, (lo, hi) in preds.items():
            idx = md.schema.names.index(col)
            mins = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
            if min(mins) > hi or max(maxs) < lo:
                hit = False  # footer excludes the whole file on this column
                break
        overlapping += hit
    return total, overlapping


def test_zordered_write_prunes_on_both_dimensions(spark, tmp_path):
    """Against the real footers: the user_id-range-sorted layout cannot prune
    a value-only band at all (every file spans ~the full value range), the
    z-ordered layout prunes it — and still prunes user_id-only bands too.
    That's the trade: a little leading-dim locality buys pruning on EVERY
    interleaved dimension. Content round-trips exactly."""
    from schemamap_spark.sources.sinks import write_range_sorted, write_zordered

    events = load_table(spark, SF001, "events")
    z_dir, r_dir = str(tmp_path / "events_z"), str(tmp_path / "events_r")
    write_zordered(events, z_dir, ["user_id", "value"], num_files=16)
    write_range_sorted(events, r_dir, ["user_id"], num_files=16)

    u_lo, u_hi, v_lo, v_hi = events.agg(
        F.expr("percentile(user_id, 0.45)"),
        F.expr("percentile(user_id, 0.55)"),
        F.expr("percentile(value, 0.45)"),
        F.expr("percentile(value, 0.55)"),
    ).head()

    # non-leading dimension: range sort reads everything, z-order prunes
    vband = {"value": (v_lo, v_hi)}
    z_total, z_hit_v = _overlapping_files(z_dir, vband)
    r_total, r_hit_v = _overlapping_files(r_dir, vband)
    assert z_total > 1 and r_total > 1
    assert r_hit_v == r_total  # the 1-D layout is blind to the value band
    assert z_hit_v < r_hit_v, f"z-order must prune the value band ({z_hit_v} vs {r_hit_v})"

    # leading dimension: z-order still prunes (coarser than a pure sort, by design)
    z_hit_u = _overlapping_files(z_dir, {"user_id": (u_lo, u_hi)})[1]
    assert z_hit_u < z_total

    # content equivalence: same multiset of rows, and the same box answer
    want = events.filter(
        F.col("user_id").between(u_lo, u_hi) & F.col("value").between(v_lo, v_hi)
    ).count()
    got = (
        spark.read.parquet(z_dir)
        .filter(F.col("user_id").between(u_lo, u_hi) & F.col("value").between(v_lo, v_hi))
        .count()
    )
    assert got == want
    assert spark.read.parquet(z_dir).count() == events.count()


def test_point_lookup_bloom_filters_written(spark, tmp_path):
    """Bloom filters actually land in the files (their bytes are visible as
    a size delta over the identical bloom-less write) and reads stay exact.
    pyarrow's metadata API doesn't surface bloom offsets in this build, so
    the on-disk footprint is the strongest local assertion available."""
    import os

    from schemamap_spark.sources.sinks import write_point_lookup_optimized

    df = spark.range(200_000).select(
        F.col("id"), (F.col("id") * 7919 % 1000003).alias("k")
    )
    b_dir, p_dir = str(tmp_path / "bloom"), str(tmp_path / "plain")
    write_point_lookup_optimized(df, b_dir, ["k"], expected_ndv=200_000)
    df.write.mode("overwrite").parquet(p_dir)

    def total(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    assert total(b_dir) > total(p_dir) + 10_000  # the filters occupy real bytes

    # exact point lookup through the bloom-filtered files
    got = spark.read.parquet(b_dir).filter(F.col("k") == (12345 * 7919 % 1000003))
    assert [r.id for r in got.collect()] == [12345]
    with pytest.raises(ValueError, match="non-empty"):
        write_point_lookup_optimized(df, b_dir, [])


def test_zorder_quantile_binning_beats_minmax_under_skew(spark, tmp_path):
    """Log-uniform x (99% of rows in <1% of the value range): min/max
    binning collapses the dense region into one cell, so a dense-region
    band overlaps nearly every file; quantile binning gives every cell
    equal mass and prunes. Deterministic arithmetic, no RNG."""
    from schemamap_spark.sources.sinks import write_zordered

    u = (F.col("id") * 2654435761 % 1000000) / 1000000.0
    df = spark.range(200_000).select(
        F.pow(F.lit(10.0), u * 6).alias("x"),
        (F.col("id") * 40503 % 1000).cast("double").alias("y"),
    )
    mm_dir, qq_dir = str(tmp_path / "mm"), str(tmp_path / "qq")
    write_zordered(df, mm_dir, ["x", "y"], bits=8, num_files=32)
    write_zordered(df, qq_dir, ["x", "y"], bits=8, num_files=32, binning="quantile")

    lo, hi = df.approxQuantile("x", [0.45, 0.55], 0.001)
    band = {"x": (lo, hi)}
    mm_total, mm_hit = _overlapping_files(mm_dir, band)
    qq_total, qq_hit = _overlapping_files(qq_dir, band)
    assert mm_total == qq_total > 1
    assert mm_hit >= mm_total - 2        # minmax is ~blind in the dense region
    assert qq_hit < mm_hit - 5           # quantile binning actually prunes it
    # both layouts hold the same rows
    assert spark.read.parquet(qq_dir).count() == df.count()

    import pytest as _pytest

    from schemamap_spark.sources.sinks import zorder_column

    with _pytest.raises(ValueError, match="binning"):
        zorder_column(df, ["x"], binning="nope")
    with _pytest.raises(ValueError, match="bits <= 12"):
        zorder_column(df, ["x"], bits=14, binning="quantile")


def test_key_skew_report_math(spark):
    from schemamap_spark.operators.skew import key_skew_report

    df = spark.createDataFrame(
        [(1,)] * 80 + [(2,)] * 10 + [(3,)] * 10, "k long"
    )
    rows = {r.k: r for r in key_skew_report(df, "k", top=3).collect()}
    assert rows[1].n == 80 and rows[1].share == 0.8
    # 3 keys, 100 rows -> mean per key 33.33; hot key 80 -> factor 2.4
    assert rows[1].skew_factor == 2.4
    assert rows[2].skew_factor == 0.3


def test_compact_parquet_dir(spark, tmp_path):
    import os

    from schemamap_spark.sources.sinks import compact_parquet_dir

    d = str(tmp_path / "frag")
    ev = load_table(spark, SF001, "events")
    for i in range(6):  # simulate streaming appends: many tiny files
        ev.filter(F.col("event_id") % 6 == i).repartition(4).write.mode(
            "append"
        ).parquet(d)
    before = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    assert before >= 20
    rows_before = spark.read.parquet(d).count()
    n = compact_parquet_dir(spark, d, target_file_bytes=64 * 1024 * 1024,
                            sort_cols=["user_id"])
    after = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    assert after <= max(n, 1) < before
    assert spark.read.parquet(d).count() == rows_before  # lossless

    import pytest as _pytest
    with _pytest.raises(ValueError, match="no parquet"):
        compact_parquet_dir(spark, str(tmp_path / "empty_nothing"))


def _text_profile_plan_and_rows(spark, sf):
    from schemamap_spark.suite.llm import text_profile

    df = text_profile(spark, sf)
    return df._jdf.queryExecution().executedPlan().toString(), df.collect()


def _assert_one_exchange_below_the_battery(plan):
    lines = plan.splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert "rangepartitioning(doc_id" in lines[exchanges[0]], plan
    # a tree string prints a child below its parent: the battery's Project
    # (the line that names its outputs) sits above the one Exchange
    battery = [i for i, ln in enumerate(lines) if "AS predicted_lang" in ln]
    assert len(battery) == 1 and battery[0] < exchanges[0], plan


def test_text_profile_runs_its_battery_above_one_range_exchange(spark, tmp_path):
    """The global sort's range sampler runs its child to sample it, so the
    documents are range-partitioned on doc_id BELOW the battery: the plan has
    one Exchange, under the battery, and no range Exchange above it. This
    must hold for the single-file documents table and for a wide copy,
    where ensure_parallelism would not fire. The oracle's row hash ignores
    order, so the doc_id order of collect() is checked here."""
    from conftest import SF01 as sf

    plan, rows = _text_profile_plan_and_rows(spark, sf)
    _assert_one_exchange_below_the_battery(plan)
    ids = [r.doc_id for r in rows]
    assert ids == sorted(ids) and len(ids) == load_table(spark, sf, "documents").count()

    width = spark.sparkContext.defaultParallelism + 2
    wide = tmp_path / "documents.parquet"
    load_table(spark, sf, "documents").repartition(width).write.parquet(str(wide))
    assert len(spark.read.parquet(str(wide)).inputFiles()) >= width
    wide_plan, wide_rows = _text_profile_plan_and_rows(spark, str(tmp_path))
    _assert_one_exchange_below_the_battery(wide_plan)
    assert wide_rows == rows
