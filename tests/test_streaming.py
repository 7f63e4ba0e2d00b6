"""Structured Streaming: the streaming twins must agree with the batch suite."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from schemamap_spark.plans.dryrun import explain_str
from schemamap_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    FS_CHECKPOINT_MANAGER,
    get_spark,
    load_table,
)
from schemamap_spark.streaming import (
    sessionized,
    start_memory_sink,
    stream_events_from_directory,
    windowed_counts,
)

from conftest import SF001


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Events re-written as several micro-second-timestamp parquet files so
    the file stream has multiple triggers to chew through."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, SF001, "events")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_windowed_counts_matches_batch(spark, stream_dir):
    """The stream equals its batch twin, and runs one state-store partition
    per core, while a batch aggregate on the same session keeps the batch
    shuffle width (8 on the test session)."""
    stream = stream_events_from_directory(spark, stream_dir)
    assert stream.isStreaming
    # complete mode: append would hold back trailing windows still inside the
    # watermark when the bounded stream ends
    q = start_memory_sink(windowed_counts(stream), "win_counts", output_mode="complete")
    q.processAllAvailable()
    q.stop()
    assert _state_widths(q.recentProgress) == {int(os.environ.get("SPARK_GRAFT_CPUS", "32"))}

    ev = spark.read.parquet(stream_dir)
    assert _by_window(spark.table("win_counts")) == _by_window(_batch_window_counts(ev))
    plan = explain_str(ev.groupBy("event_type").count(), mode="simple")
    assert re.search(r"Exchange hashpartitioning\(event_type#\d+, 8\)", plan), plan


def _batch_window_counts(ev):
    """The batch twin of windowed_counts, written independently of it."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("total_cents"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_cents")
    )


def _by_window(df):
    return {(r.window_start, r.event_type): (r.n, r.total_cents) for r in df.collect()}


def _state_widths(progress):
    return {p["stateOperators"][0]["numShufflePartitions"] for p in progress if p["stateOperators"]}


def test_checkpoint_keeps_its_state_width_on_resume(spark, stream_dir, tmp_path):
    """A checkpoint started under the old 32-wide default resumes with 32
    state partitions on the current session, because Spark restores the
    width from the offset log, and its output still equals the batch twin."""
    ev = spark.read.parquet(stream_dir)
    cut = F.lit("2024-01-15").cast("timestamp")
    src, sink, ckpt = (str(tmp_path / d) for d in ("in", "sink", "ckpt"))
    ev.filter(F.col("ts") < cut).write.parquet(src)

    def run():
        q = (
            windowed_counts(stream_events_from_directory(spark, src))
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.recentProgress

    default = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        first = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    # later events only: nothing in the new file is behind the watermark
    ev.filter(F.col("ts") >= cut).write.mode("append").parquet(src)
    resumed = run()
    assert _state_widths(first) == _state_widths(resumed) == {32}

    emitted = (F.col("window_start") + F.expr("interval 1 hour")) <= F.to_timestamp(
        F.lit(resumed[-1]["eventTime"]["watermark"])
    )
    got = _by_window(spark.read.parquet(sink))
    assert got == _by_window(_batch_window_counts(ev).filter(emitted)) and got


def _checkpoint_manager(spark, path: str):
    """The manager Spark resolves for a checkpoint at `path`, as a query
    started now on this session would."""
    jvm = spark._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return managers.CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(path), hadoop_conf)


def test_local_checkpoints_commit_by_one_rename_and_stay_create_if_absent(spark, tmp_path):
    """On the `file:` default filesystem a checkpoint's files go through
    Spark's FileSystem manager (exists check plus one rename, no `readlink`
    forks), and a log entry is still created only if absent: a second
    createAtomic of the same file fails on close and leaves the first
    file's bytes."""
    manager = _checkpoint_manager(spark, tmp_path.as_uri())
    assert manager.getClass().getName() == FS_CHECKPOINT_MANAGER

    entry = spark._jvm.org.apache.hadoop.fs.Path((tmp_path / "0").as_uri())
    first = manager.createAtomic(entry, False)
    first.write(bytearray(b"first"))
    first.close()
    second = manager.createAtomic(entry, False)
    second.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="already exists"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def test_a_checkpoint_manager_in_extra_configs_wins(spark, tmp_path):
    """get_spark sets the FileSystem manager before the caller's
    extra_configs, so a class given there is the one Spark resolves."""
    caller_set = FS_CHECKPOINT_MANAGER.replace("FileSystemBased", "FileContextBased")
    try:
        same = get_spark(
            "schemamap-tests", shuffle_partitions=8,
            extra_configs={CHECKPOINT_MANAGER_KEY: caller_set},
        )
        assert same is spark
        manager = _checkpoint_manager(spark, tmp_path.as_uri())
        assert manager.getClass().getName() == caller_set
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)


def test_sessionized_stream_runs(spark, stream_dir):
    stream = stream_events_from_directory(spark, stream_dir)
    q = start_memory_sink(sessionized(stream), "sessions", output_mode="append")
    q.processAllAvailable()
    q.stop()
    rows = spark.table("sessions").collect()
    assert len(rows) > 0
    assert all(r.n_events >= 1 for r in rows)


def test_continuous_rollup_cascade_matches_batch(spark, tmp_path):
    """The streaming continuous aggregate (append-only hourly store) feeding
    the batch daily rollup must equal aggregating raw events directly, for
    every window the watermark has finalized. A far-future sentinel event
    advances the watermark past all real windows so the bounded test can
    compare the complete day set."""
    from schemamap_spark.streaming import continuous_hourly_rollup, daily_from_hourly

    d = str(tmp_path / "ev_in")
    ev = load_table(spark, SF001, "events")
    ev.repartition(2).write.mode("overwrite").parquet(d)
    sentinel = ev.limit(1).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        (F.col("ts") + F.expr("interval 365 days")).alias("ts"),
        "user_id",
        F.lit("__sentinel__").alias("event_type"),
        "value", "props",
    )
    sentinel.write.mode("append").parquet(d)

    rollup = str(tmp_path / "hourly_store")
    ckpt = str(tmp_path / "ckpt")
    q = continuous_hourly_rollup(stream_events_from_directory(spark, d), rollup, ckpt)
    q.awaitTermination()

    got = {
        (r.day, r.event_type): (r.n, r.total_cents)
        for r in daily_from_hourly(spark, rollup).collect()
        if r.event_type != "__sentinel__"
    }
    want = {
        (r.day, r.event_type): (r.n, r.total_cents)
        for r in (
            ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("total_cents"),
            )
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_continuous_rollup_is_incremental(spark, tmp_path):
    """Restarting the stream over the same checkpoint must not duplicate
    windows in the store (exactly-once append)."""
    from schemamap_spark.streaming import continuous_hourly_rollup

    d = str(tmp_path / "ev_in")
    ev = load_table(spark, SF001, "events").limit(2000)
    ev.write.mode("overwrite").parquet(d)
    rollup, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    q = continuous_hourly_rollup(stream_events_from_directory(spark, d), rollup, ckpt)
    q.awaitTermination()
    n1 = spark.read.parquet(rollup).count()
    # re-run with NO new input: checkpoint replays nothing, store unchanged
    q = continuous_hourly_rollup(stream_events_from_directory(spark, d), rollup, ckpt)
    q.awaitTermination()
    n2 = spark.read.parquet(rollup).count()
    assert n1 == n2


def test_curated_document_stream_matches_batch(spark, tmp_path):
    """The stateless curation prefix must pass the same documents in
    streaming (availableNow over files) as in batch on identical input."""
    from schemamap_spark.streaming import curated_document_stream, start_memory_sink

    d = str(tmp_path / "docs_stream")
    docs = load_table(spark, SF001, "documents")
    docs.repartition(3).write.mode("overwrite").parquet(d)

    kw = dict(quality_min=0.3, max_top_bigram_ratio=0.5, redact=True, normalize=True)
    stream = spark.readStream.schema(docs.schema).parquet(d)
    q = start_memory_sink(curated_document_stream(stream, **kw), "curated_docs")
    q.processAllAvailable()
    q.stop()

    got = {(r.doc_id, r.text, r.quality) for r in spark.table("curated_docs").collect()}
    want = {
        (r.doc_id, r.text, r.quality)
        for r in curated_document_stream(spark.read.parquet(d), **kw).collect()
    }
    assert got == want and len(got) > 0


def test_ann_ingest_stream_matches_batch_appends(spark, tmp_path):
    """The streaming ANN ingest must produce the same store contents as
    batch appends of the same vectors (encoding is a pure function of the
    recorded models). Exactly-once: a replay of a committed micro-batch
    (same checkpoint → same token; the crash-after-manifest-commit-
    before-checkpoint-commit window) no-ops, while a FRESH checkpoint is
    by definition a NEW pipeline whose tokens don't collide — a later
    ingestion run into the same store must not be silently dropped just
    because its micro-batch ids restart at 0."""
    import json
    import os

    from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR
    from schemamap_spark.operators.ann_index import (
        ann_index_build,
        ann_index_search,
    )
    from schemamap_spark.streaming import ann_ingest_stream

    emb = spark.read.parquet(f"{DEFAULT_FIXTURE_DIR}/clustered_embeddings.parquet")
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    incoming = emb.subtract(seed)
    q = emb.filter(F.col("vec_id") % 97 == 0)

    src = str(tmp_path / "vec_src")
    incoming.repartition(4).write.mode("overwrite").parquet(src)

    idx = str(tmp_path / "idx_stream")
    ann_index_build(seed, idx, m=8, num_centroids=16)
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    ann_ingest_stream(stream, idx, str(tmp_path / "ckpt")).awaitTermination()

    got = sorted(map(tuple, ann_index_search(spark, idx, q, k=5).collect()))

    # batch twin: same seed build + one append of everything incoming
    idx2 = str(tmp_path / "idx_batch")
    ann_index_build(seed, idx2, m=8, num_centroids=16)
    from schemamap_spark.operators.ann_index import ann_index_append

    ann_index_append(incoming, idx2)
    want = sorted(map(tuple, ann_index_search(spark, idx2, q, k=5).collect()))
    assert got == want and len(got) > 0

    # crash-replay simulation: re-append with a token the stream already
    # committed (what a post-crash restart of the SAME checkpoint would
    # carry) — must no-op, store untouched
    with open(os.path.join(idx, "manifest.json")) as f:
        manifest = json.load(f)
    dirs_before = [d["name"] for d in manifest["dirs"]]
    stream_tokens = [d["batch_token"] for d in manifest["dirs"] if "batch_token" in d]
    assert len(stream_tokens) >= 2  # several real micro-batches committed
    assert ann_index_append(incoming, idx, batch_token=stream_tokens[0]) is False
    with open(os.path.join(idx, "manifest.json")) as f:
        assert [d["name"] for d in json.load(f)["dirs"]] == dirs_before
    assert sorted(
        map(tuple, ann_index_search(spark, idx, q, k=5).collect())
    ) == got

    # a FRESH checkpoint is a NEW pipeline: its micro-batch ids restart at
    # 0 but its tokens are namespaced by the checkpoint, so its batches
    # APPEND instead of being silently dropped as replays
    stream2 = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    ann_ingest_stream(stream2, idx, str(tmp_path / "ckpt2")).awaitTermination()
    with open(os.path.join(idx, "manifest.json")) as f:
        dirs_after = [d["name"] for d in json.load(f)["dirs"]]
    assert len(dirs_after) == len(dirs_before) + len(stream_tokens)


def test_incremental_dedup_stream(spark, tmp_path):
    """Micro-batches dedup against the persisted digest store: one
    representative per digest ever reaches fresh_dir (cross-batch dups
    drop), and a rerun over the same input with a fresh checkpoint emits
    NOTHING — the store, not the checkpoint, carries dedup state."""
    from schemamap_spark.streaming.pipeline import incremental_dedup_stream

    src = tmp_path / "docs_src"
    src.mkdir()
    schema = "doc_id long, text string"
    # file 1 and file 2 share a normalized dup ('alpha beta' vs ' ALPHA beta ')
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(10, " ALPHA beta "), (11, "epsilon zeta"), (12, "epsilon zeta")], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = incremental_dedup_stream(
        stream,
        fresh_dir=str(tmp_path / "fresh"),
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    fresh = spark.read.parquet(str(tmp_path / "fresh"))
    texts = sorted(r.text.strip().lower() for r in fresh.collect())
    # one representative per distinct normalized text, across ALL batches
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.count() == store.select("fingerprint").distinct().count() == 3

    # rerun with a NEW checkpoint (simulated redeploy): store blocks everything
    q2 = incremental_dedup_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*")),
        fresh_dir=str(tmp_path / "fresh"),
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "fresh")).count() == 3


def test_interval_join_streams_matches_batch(spark, stream_dir):
    """Stream-stream interval join (click -> purchase within 1h per user)
    drained with availableNow must equal the identical batch join."""
    from schemamap_spark.streaming import interval_join_streams

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    lstream, rstream = split(stream_events_from_directory(spark, stream_dir))
    joined = interval_join_streams(lstream, rstream, horizon_seconds=3600)
    assert joined.isStreaming
    q = start_memory_sink(joined, "ij", output_mode="append")
    q.processAllAvailable()
    q.stop()
    got = {(r.event_id, r.event_id_right) for r in spark.table("ij").collect()}

    lb, rb = split(spark.read.parquet(stream_dir))
    batch = interval_join_streams(lb, rb, horizon_seconds=3600)
    want = {(r.event_id, r.event_id_right) for r in batch.collect()}
    assert got == want
    assert len(want) > 0  # the fixture actually produces matches

    # schema contract: all left cols + suffixed right cols minus the join key
    assert "user_id_right" not in joined.columns
    assert "ts_right" in joined.columns and "event_id_right" in joined.columns


def test_interval_join_streams_rejects_bad_how(spark, stream_dir):
    from schemamap_spark.streaming import interval_join_streams

    ev = spark.read.parquet(stream_dir)
    with pytest.raises(ValueError, match="inner/leftOuter"):
        interval_join_streams(ev, ev, how="full")


def test_dsir_gate_stream_matches_batch(spark, tmp_path):
    """Streaming DSIR gate vs the batch scorer over the same documents and
    the same persisted models: identical surviving (doc_id, lw_micros)."""
    from schemamap_spark.operators.dsir import (
        bucket_counts,
        dsir_weights,
        hashed_gram_features,
    )
    from schemamap_spark.streaming import dsir_gate_stream

    docs = load_table(spark, SF001, "documents")
    targ = docs.filter(F.col("source").isin("src0", "src1"))
    t_counts = bucket_counts(hashed_gram_features(targ), "ct")
    r_counts = bucket_counts(hashed_gram_features(docs), "cr")

    # batch truth: weights of ALL docs vs those models; gate at the median
    w = dsir_weights(docs, targ)  # raw model == candidates == full docs
    cut = int(w.agg(F.expr("percentile(lw_micros, 0.5)")).head()[0])
    want = {
        (r.doc_id, r.lw_micros)
        for r in w.filter(F.col("lw_micros") >= cut).collect()
    }

    src_dir = str(tmp_path / "docs_in")
    docs.repartition(3).write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    fresh = str(tmp_path / "docs_fresh")
    ckpt = str(tmp_path / "ckpt")
    q = dsir_gate_stream(stream, t_counts, r_counts, fresh, ckpt, cut)
    q.awaitTermination()
    got = {
        (r.doc_id, r.lw_micros)
        for r in spark.read.parquet(fresh).select("doc_id", "lw_micros").collect()
    }
    assert got == want
    assert len(want) > 0
    # gated rows keep their full document payload
    assert set(spark.read.parquet(fresh).columns) == set(docs.columns) | {"lw_micros"}


def test_mixture_fill_stream_respects_budgets(spark, tmp_path):
    """Per-source token budgets hold across micro-batches; unbudgeted
    sources drop; the admitted set is deterministic for a given file
    layout (Knuth-hash priority, not arrival luck)."""
    from schemamap_spark.streaming import mixture_fill_stream

    docs = load_table(spark, SF001, "documents")
    tok = F.size(F.split("text", " ")).cast("long")
    totals = {
        r.source: r.t
        for r in docs.groupBy("source").agg(F.sum(tok).alias("t")).collect()
    }
    src_dir = str(tmp_path / "in")
    docs.repartition(3).write.mode("overwrite").parquet(src_dir)
    budgets = {"src0": 60, "src1": 10**9}

    def run(tag):
        acc = str(tmp_path / f"acc_{tag}")
        q = mixture_fill_stream(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(src_dir),
            budgets, acc, str(tmp_path / f"state_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
        )
        q.awaitTermination()
        return spark.read.parquet(acc)

    got = run("a")
    per_src = {
        r.source: (r.t, r.n)
        for r in got.groupBy("source").agg(
            F.sum(tok).alias("t"), F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert set(per_src) <= {"src0", "src1"}      # unbudgeted sources dropped
    assert per_src["src0"][0] <= 60              # budget is a hard cap
    assert per_src["src0"][1] >= 1               # but it did admit something
    assert per_src["src1"][0] == totals["src1"]  # huge budget: all admitted
    assert set(got.columns) == set(docs.columns)

    # deterministic: a fresh identical run admits the identical row set
    again = run("b")
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_enrich_stream_sees_dimension_updates_between_batches(spark, tmp_path):
    """The per-batch dimension re-read: after the SCD2 store is rewritten
    mid-stream, the next micro-batch joins the NEW current slice."""
    from schemamap_spark.sources.merge import scd2_init, scd2_merge
    from schemamap_spark.sources.sinks import write_parquet_atomic
    from schemamap_spark.streaming import enrich_stream

    dim_dir = str(tmp_path / "dim")
    snap = spark.createDataFrame(
        [(u, f"tier{u % 3}") for u in range(1, 200)], "user_id long, tier string"
    )
    write_parquet_atomic(scd2_init(snap, "2020-01-01 00:00:00"), dim_dir)

    ev = load_table(spark, SF001, "events")
    src = str(tmp_path / "ev_in")
    ev.limit(100).repartition(2).write.mode("overwrite").parquet(src)

    out1, out2 = str(tmp_path / "out1"), str(tmp_path / "out2")
    q = enrich_stream(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "2").parquet(src),
        dim_dir, "user_id", out1, str(tmp_path / "c1"),
    )
    q.awaitTermination()
    first = spark.read.parquet(out1)
    assert first.count() == 100
    assert set(first.columns) == set(ev.columns) | {"tier"}
    tiers1 = {r.tier for r in first.select("tier").distinct().collect()}
    assert tiers1 <= {"tier0", "tier1", "tier2", None}

    # dimension update: every user moves to gold; a NEW stream run (same
    # batch mechanics as a later trigger) must see it
    upd = snap.withColumn("tier", F.lit("gold"))
    write_parquet_atomic(
        scd2_merge(
            spark.read.parquet(dim_dir), upd, ["user_id"], "2024-01-01 00:00:00"
        ),
        dim_dir,
    )
    q2 = enrich_stream(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "2").parquet(src),
        dim_dir, "user_id", out2, str(tmp_path / "c2"),
    )
    q2.awaitTermination()
    tiers2 = {
        r.tier
        for r in spark.read.parquet(out2).filter("tier is not null")
        .select("tier").distinct().collect()
    }
    assert tiers2 == {"gold"}  # only the CURRENT slice joined


def test_dedup_store_survives_compaction(spark, tmp_path):
    """The ops compose: after compacting the streaming dedup stores
    (small-file debt from per-batch appends), a replayed/later batch still
    dedups correctly against the compacted fingerprint store."""
    from schemamap_spark.operators.dedup import incremental_exact_dedup
    from schemamap_spark.sources.sinks import compact_parquet_dir
    from schemamap_spark.streaming import (
        start_memory_sink,  # noqa: F401 (import parity with module style)
    )
    from schemamap_spark.streaming.pipeline import incremental_dedup_stream

    docs = load_table(spark, SF001, "documents")
    src = str(tmp_path / "in")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    fresh, store = str(tmp_path / "fresh"), str(tmp_path / "store")
    q = incremental_dedup_stream(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1").parquet(src),
        fresh, store, str(tmp_path / "ck"),
    )
    q.awaitTermination()
    n_store = spark.read.parquet(store).count()

    compact_parquet_dir(spark, store, target_file_bytes=256 * 1024 * 1024)
    compact_parquet_dir(spark, fresh, target_file_bytes=256 * 1024 * 1024)
    assert spark.read.parquet(store).count() == n_store  # lossless

    # a brand-new batch that is ALL duplicates of the landed corpus emits
    # nothing against the compacted store
    replay, _ = incremental_exact_dedup(docs, spark.read.parquet(store))
    assert replay.count() == 0


def test_checkpoint_token_prefix_is_cwd_independent_for_uris(tmp_path, monkeypatch):
    """ADVICE r7: os.path.abspath on a URI-scheme checkpoint prepended the
    driver's cwd, so a post-crash restart from a different working
    directory derived a DIFFERENT token prefix for the SAME checkpoint and
    re-appended every replayed micro-batch. URI paths must hash verbatim
    (trailing slashes normalized); plain relative paths still resolve
    through abspath (same dir -> same prefix, different dir -> different)."""
    import os

    from schemamap_spark.streaming.pipeline import _checkpoint_token_prefix

    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    d1.mkdir()
    d2.mkdir()

    monkeypatch.chdir(d1)
    p_uri_1 = _checkpoint_token_prefix("hdfs://nn:8020/ckpt/ann")
    p_file_1 = _checkpoint_token_prefix("file:///warehouse/ckpt")
    p_rel_1 = _checkpoint_token_prefix("ckpt")
    monkeypatch.chdir(d2)
    # same checkpoint URI from another cwd: SAME prefix (the r7 bug)
    assert _checkpoint_token_prefix("hdfs://nn:8020/ckpt/ann") == p_uri_1
    assert _checkpoint_token_prefix("file:///warehouse/ckpt") == p_file_1
    # trailing slash is the same checkpoint
    assert _checkpoint_token_prefix("hdfs://nn:8020/ckpt/ann/") == p_uri_1
    # a relative path genuinely IS a different checkpoint from another cwd
    assert _checkpoint_token_prefix("ckpt") != p_rel_1
    monkeypatch.chdir(d1)
    assert _checkpoint_token_prefix("ckpt") == p_rel_1
    # distinct checkpoints never collide into one token namespace
    assert p_uri_1 != p_file_1 != os.path.basename("")  # shape guard
    assert _checkpoint_token_prefix("hdfs://nn:8020/ckpt/other") != p_uri_1


def test_corpus_stats_stream_matches_batch(spark, tmp_path):
    """The streaming stats ingest must serve the same dashboard as batch
    appends of the same documents, and a replayed/re-run stream must not
    change the report (partials are deterministic; the report collapses
    duplicate batch rows exactly — the crash-recovery path IS the replay
    path)."""
    from schemamap_spark.operators.curation import (
        append_corpus_stats,
        corpus_stats_report,
    )
    from schemamap_spark.streaming import corpus_stats_stream

    docs = load_table(spark, SF001, "documents")
    src = str(tmp_path / "docs_src")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    store_s = str(tmp_path / "stats_stream")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    corpus_stats_stream(
        stream, store_s, str(tmp_path / "ckpt")
    ).awaitTermination()

    got = corpus_stats_report(spark, store_s)
    rows_got = sorted(map(tuple, got.collect()))
    assert len(rows_got) > 0

    # batch twin: one append of everything
    store_b = str(tmp_path / "stats_batch")
    append_corpus_stats(docs, store_b, "all")
    rows_want = sorted(map(tuple, corpus_stats_report(spark, store_b).collect()))
    assert rows_got == rows_want

    # several real micro-batches landed (not one giant batch)
    batch_ids = {
        r.batch_id
        for r in spark.read.parquet(f"{store_s}/scalars")
        .select("batch_id").distinct().collect()
    }
    assert len(batch_ids) >= 2
    assert all(b.startswith("stream-") for b in batch_ids)

    # replay: re-running the SAME checkpoint with no new files is a no-op
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    corpus_stats_stream(
        stream2, store_s, str(tmp_path / "ckpt")
    ).awaitTermination()
    assert sorted(map(tuple, corpus_stats_report(spark, store_s).collect())) == rows_got

    # a crash-replayed micro-batch re-appends value-identical partials
    # under the same batch_id (partials are deterministic); simulate the
    # on-disk result by duplicating one batch's stored rows — the report
    # must collapse them exactly
    some_id = sorted(batch_ids)[0]
    sc = spark.read.parquet(f"{store_s}/scalars").filter(
        F.col("batch_id") == some_id
    )
    sc.write.mode("append").parquet(f"{store_s}/scalars")
    hi = spark.read.parquet(f"{store_s}/hist").filter(
        F.col("batch_id") == some_id
    )
    hi.write.mode("append").parquet(f"{store_s}/hist")
    assert sorted(map(tuple, corpus_stats_report(spark, store_s).collect())) == rows_got


def test_ann_backfill_races_stream_no_lost_batches(spark, tmp_path):
    """The exact topology VERDICT r7 flagged: a batch backfill appending
    WHILE ann_ingest_stream commits micro-batches into the same store.
    With the versioned manifest commit log the interleaving — whatever
    the scheduler does — must lose nothing: every stream micro-batch
    token AND every backfill batch ends up in the head, and search sees
    the union. (Timing varies run to run; the asserted invariant does
    not.)"""
    import threading

    from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR
    from schemamap_spark.operators.ann_index import (
        _load_manifest,
        ann_index_append,
        ann_index_build,
        ann_index_search,
    )
    from schemamap_spark.streaming import ann_ingest_stream

    emb = spark.read.parquet(f"{DEFAULT_FIXTURE_DIR}/clustered_embeddings.parquet")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    streamed = emb.filter(F.col("vec_id") % 3 == 1)
    backfill = emb.filter(F.col("vec_id") % 3 == 2)

    src = str(tmp_path / "vec_src")
    streamed.repartition(4).write.mode("overwrite").parquet(src)
    idx = str(tmp_path / "idx_race_e2e")
    ann_index_build(seed, idx, m=8, num_centroids=16, centroids="sample")

    # 4 backfill slices appended from a thread while the stream drains
    slices = [backfill.filter(F.col("vec_id") % 4 == m) for m in range(4)]
    results = []

    def backfiller():
        for i, sl in enumerate(slices):
            results.append(ann_index_append(sl, idx, batch_token=f"backfill-{i}"))

    stream = (
        spark.readStream.schema(streamed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    th = threading.Thread(target=backfiller)
    th.start()
    q = ann_ingest_stream(stream, idx, str(tmp_path / "ckpt_race"))
    q.awaitTermination()
    th.join()

    assert results == [True, True, True, True]  # no backfill lost or demoted
    head = _load_manifest(idx)
    tokens = set()
    for d in head["dirs"]:
        if d.get("batch_token"):
            tokens.add(d["batch_token"])
        tokens.update(d.get("batch_tokens", ()))
    assert {f"backfill-{i}" for i in range(4)} <= tokens
    assert sum(1 for t in tokens if t.startswith("stream-")) >= 2

    # the union is searchable and row-complete
    import os

    n_rows = spark.read.parquet(
        *(os.path.join(idx, d["name"]) for d in head["dirs"])
    ).count()
    assert n_rows == seed.count() + streamed.count() + backfill.count()
    assert ann_index_search(spark, idx, emb.limit(5), k=3).count() == 15
