"""Structured Streaming operators over event streams.

The reference has NO streaming operators (SURVEY.md §2 — its import flow is
asynchronous batch); this module is the engine's forward-looking extension:
the same windowing/sessionization semantics exposed in the batch suite
(schemamap_spark/suite/streams.py) run here as real streams with watermarks,
so a pipeline validated against the DuckDB oracle in batch can be promoted to
streaming unchanged.

Scale notes: file-source streams scale by directory listing + maxFilesPerTrigger;
state-store size is bounded by the watermark horizon; output modes chosen so
late data within the watermark corrects previously-emitted windows. State
width (one state-store task per partition) is `spark.sql.shuffle.partitions`,
which `get_spark` sets to the core count, so a stateful micro-batch runs as
one wave. Streaming runs without AQE, so nothing coalesces that width at
runtime. It is fixed per checkpoint: Spark records it in the offset log when
a query first starts and restores it on every resume, so a checkpoint written
under another width keeps that width.

Checkpoint files (offset and commit logs, source and sink logs, state
deltas) are each written to a temp file and renamed into place. `get_spark`
has Spark do that rename through its FileSystem checkpoint manager, an
`exists` check plus one rename, for every checkpoint path: Hadoop's local
FileContext rename, Spark's default, is also check-then-rename but forks
`readlink` for every link-status check without Hadoop's native library. A
`spark.sql.streaming.checkpointFileManagerClass` in `extra_configs` wins,
and sessions adopted through `configure_session` keep Spark's default
(session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def stream_events_from_directory(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    reader = (
        spark.readStream.format(fmt)
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    return reader.load(path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time windows with a watermark bounding state.

    Money is summed as integer cents (floor(value*100) as bigint) — the same
    engine-portable arithmetic the batch twin (suite/streams.py) uses, so the
    streaming store and batch oracle can never disagree on rounding."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("total_cents"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_cents")
    )


def sessionized(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (gap-merged) per user — the streaming twin of the
    batch events_sessionize query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def deduplicated_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exactly-once-per-event-id dedup within the watermark horizon
    — the streaming twin of exact_duplicates removal, with state bounded by
    the watermark (dropDuplicatesWithinWatermark keeps one state entry per
    key only until the watermark passes it)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def running_user_stats(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: per-user running event count + value total,
    emitted once per micro-batch via applyInPandasWithState — the escape
    hatch for stateful logic Spark's built-in windows can't express.

    The batch function is self-contained (no module-global references) so
    workers never need this package importable.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state):
        import pandas as _pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield _pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def curated_document_stream(
    docs: DataFrame,
    quality_min: float = 0.3,
    max_dup_line_ratio: float | None = None,
    max_top_bigram_ratio: float | None = None,
    redact: bool = False,
    normalize: bool = False,
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of curate_corpus's STATELESS prefix: normalize →
    PII-redact → quality + repetition gates, applied to a document stream.

    Pure Column expressions end to end — no state store, no watermark, no
    shuffle: each micro-batch filters independently, so this runs at ingest
    and scales with source parallelism. The stateful curation stages (exact/
    near-dup collapse, split assignment) stay batch — dedup across an
    unbounded stream needs either a watermark bound (deduplicated_stream) or
    a periodic batch compaction over the landed corpus.

    Delegates to the SAME hygiene_gate the batch pipeline uses, so batch and
    streaming can never drift (test_curated_document_stream_matches_batch
    pins the equality).
    """
    from schemamap_spark.operators.curation import hygiene_gate

    return hygiene_gate(
        docs, quality_min, max_dup_line_ratio, max_top_bigram_ratio,
        redact, normalize, text_col,
    )


def trending_ngrams_stream(
    docs: DataFrame,
    n: int = 2,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Windowed n-gram DOCUMENT counts over a document stream — the streaming
    twin of corpus_ngram_stats' df metric, per event-time window: the
    "trending terms" feed an ingest pipeline watches for template/boilerplate
    bursts before they poison dedup.

    Per-doc distinct grams (df semantics: one count per (window, gram, doc)),
    then a watermarked windowed count. Ranking/top-k is the READER's job
    after a window closes — an in-stream rank would need the full window
    state re-sorted every trigger; the append-mode count store is the
    scalable half. State is bounded by the watermark horizon; gram
    cardinality within a window is the working-set knob (pre-filter with
    stop_grams for unbounded vocabularies)."""
    from schemamap_spark.operators.dedup import shingles_from_tokens

    grams = (
        docs.select(
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("toks"),
        )
        .filter(F.size("toks") >= n)
        .select(
            "ts", "doc_id",
            F.explode(shingles_from_tokens("toks", n)).alias("gram"),
        )
    )
    return (
        grams.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.col("w.start").alias("window_start"), "gram", "n_docs")
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    horizon_seconds: int = 3600,
    watermark: str = "2 hours",
    suffix: str = "_right",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with the right
    events of the same key whose timestamp lands in
    [left.ts, left.ts + horizon_seconds] — the click→conversion /
    impression→attribution shape, as a real two-sided streaming join.

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions, which is exactly what lets Spark expire state: a
    buffered left row can stop waiting once the right watermark passes
    left.ts + horizon, and vice versa — state is O(watermark + horizon) per
    side, never the whole stream. Works identically on batch frames (same
    condition, watermarks become no-ops... batch twin equality is pinned in
    test_streaming), so a pipeline can promote batch attribution to
    streaming without touching the join.

    Right columns come back suffixed (key column dropped after the equality
    join). `how` supports inner and leftOuter (Spark emits the null-padded
    left rows only when the watermark proves no match can arrive)."""
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"interval_join_streams supports inner/leftOuter, got {how!r}")
    r = right.select([F.col(c).alias(f"{c}{suffix}") for c in right.columns])
    lw = left.withWatermark(ts, watermark) if left.isStreaming else left
    rw = r.withWatermark(f"{ts}{suffix}", watermark) if r.isStreaming else r
    cond = (
        (F.col(key) == F.col(f"{key}{suffix}"))
        & (F.col(f"{ts}{suffix}") >= F.col(ts))
        & (
            F.col(f"{ts}{suffix}")
            <= F.col(ts) + F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS")
        )
    )
    return lw.join(rw, cond, how).drop(f"{key}{suffix}")


def dsir_gate_stream(
    docs: DataFrame,
    t_counts: DataFrame,
    r_counts: DataFrame,
    fresh_dir: str,
    checkpoint_dir: str,
    min_lw_micros: int,
    buckets: int = 8192,
    alpha: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Train-once / gate-at-ingest DSIR: score each micro-batch of documents
    against PRE-TRAINED target/raw bucket models (operators/dsir.py
    bucket_counts, persisted to parquet) and land only the target-like rows
    (lw_micros >= min_lw_micros) in `fresh_dir`, with their weight attached.

    Stateless per batch — the models are static small frames, so ingest
    scales with source parallelism like curated_document_stream; batch and
    streaming share score_against_models, so they cannot drift (equality
    pinned in test_streaming). Compose after the hygiene gate and before
    the dedup store for the full ingest funnel.

    Returns the StreamingQuery (availableNow — call .awaitTermination())."""
    from pyspark.sql import functions as _F

    from schemamap_spark.operators.dsir import (
        hashed_gram_features,
        score_against_models,
    )

    def _batch(batch_df, _batch_id):
        feats = hashed_gram_features(batch_df, buckets, id_col, text_col)
        ids = batch_df.select(_F.col(id_col).alias("doc_id"))
        w = score_against_models(ids, feats, t_counts, r_counts, buckets, alpha)
        passed = batch_df.join(
            w.filter(_F.col("lw_micros") >= min_lw_micros)
            .select(_F.col("doc_id").alias(id_col), "lw_micros"),
            id_col,
        )
        passed.write.mode("append").parquet(fresh_dir)

    return (
        docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def mixture_fill_stream(
    docs: DataFrame,
    budgets: dict[str, int],
    accepted_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
):
    """Streaming token-budget enforcement per source — the ingest twin of
    mixture_sample's batch planning: each source accepts documents until its
    token budget fills, then stops, across micro-batches and restarts.

    Per batch: rows rank within their source by Knuth hash (ties by id —
    the sampling-module order, so WHICH rows win is deterministic, not
    arrival luck), a running token cumsum admits rows while the source's
    remaining budget lasts, admitted rows append to `accepted_dir`, and the
    per-source token counter store at `state_dir` is atomically rewritten
    (write_parquet_atomic dir swap — a reader never sees a half-updated
    counter). Sources absent from `budgets` are dropped.

    Same delivery note as incremental_dedup_stream: the data append and the
    counter swap are not atomic together — a crash between them can
    re-admit one batch's rows on replay (at-least-once on accepted_dir; the
    counter itself never double-counts because the swap is last). State is
    one tiny parquet of (source, tokens_used) rows, never the stream.

    Returns the StreamingQuery (availableNow — call .awaitTermination())."""
    from pyspark.sql import Window

    from schemamap_spark.operators.sampling import knuth_hash
    from schemamap_spark.sources.sinks import write_parquet_atomic

    def _batch(batch_df, _batch_id):
        import os as _os

        spark = batch_df.sparkSession
        # ONLY a genuinely absent store means "no state yet"; a read error on
        # an existing store must raise — swallowing it would silently reset
        # every source's counter and re-admit a full budget, the exact
        # invariant this operator exists to enforce
        if _os.path.isdir(state_dir):
            used = spark.read.parquet(state_dir)
        else:
            used = spark.createDataFrame([], "source string, tokens_used long")
        budget_map = F.create_map(
            *[F.lit(x) for s, b in budgets.items() for x in (s, int(b))]
        )
        h = knuth_hash(id_col)
        w = (
            Window.partitionBy(source_col)
            .orderBy(h, F.col(id_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        toks = F.size(F.split(F.col(text_col), " ")).cast("long")
        used_r = used.withColumnRenamed("source", "__src").withColumnRenamed(
            "tokens_used", "__used"
        )
        scored = (
            batch_df.withColumn("__tok", toks)
            .withColumn("__cum", F.sum("__tok").over(w))
            .join(F.broadcast(used_r), F.col(source_col) == F.col("__src"), "left")
            .withColumn(
                "__remaining",
                F.coalesce(budget_map[F.col(source_col)], F.lit(0))
                - F.coalesce(F.col("__used"), F.lit(0)),
            )
        )
        accepted = scored.filter(F.col("__cum") <= F.col("__remaining")).persist()
        accepted.drop("__tok", "__cum", "__src", "__used", "__remaining").write.mode(
            "append"
        ).parquet(accepted_dir)
        new_used = (
            accepted.groupBy(F.col(source_col).alias("__nsrc"))
            .agg(F.sum("__tok").alias("__new"))
            .join(used_r, F.col("__nsrc") == F.col("__src"), "full_outer")
            .select(
                F.coalesce(F.col("__nsrc"), F.col("__src")).alias("source"),
                (
                    F.coalesce(F.col("__used"), F.lit(0))
                    + F.coalesce(F.col("__new"), F.lit(0))
                ).cast("long").alias("tokens_used"),
            )
        )
        # collect before the swap: new_used reads state_dir, which the swap
        # replaces — writing a plan over the dir being rewritten would race
        rows = new_used.collect()
        write_parquet_atomic(
            spark.createDataFrame(rows or [], "source string, tokens_used long"),
            state_dir,
        )
        accepted.unpersist()

    return (
        docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def enrich_stream(
    events: DataFrame,
    dim_dir: str,
    on: str,
    out_dir: str,
    checkpoint_dir: str,
    dim_cols: list[str] | None = None,
    how: str = "left",
):
    """Streaming dimension enrichment against a PERSISTED dimension store:
    each micro-batch re-reads the dimension's CURRENT slice (an SCD2 store
    maintained by scd2_merge + write_parquet_atomic, or any keyed parquet
    dir) and broadcast-joins it in — so a dimension update between batches
    is visible to the very next batch, with no stream restart. That
    per-batch re-read is the point: a static `spark.read` join would
    snapshot the dimension once at stream start and drift forever.

    Stateless per batch (the foreachBatch twin of a stream-static join,
    chosen over Spark's built-in stream-static join precisely for the
    refresh semantics). Dimensions are broadcast — keep them dimension-
    sized; for fact-sized enrichment use interval_join_streams.

    Returns the StreamingQuery (availableNow — call .awaitTermination())."""
    from pyspark.sql import functions as _F

    def _batch(batch_df, _batch_id):
        spark = batch_df.sparkSession
        dim = spark.read.parquet(dim_dir)
        if "is_current" in dim.columns:
            dim = dim.filter(_F.col("is_current")).drop(
                "valid_from", "valid_to", "is_current"
            )
        if dim_cols:
            dim = dim.select(on, *dim_cols)
        batch_df.join(_F.broadcast(dim), on, how).write.mode("append").parquet(
            out_dir
        )

    return (
        events.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def continuous_hourly_rollup(
    events: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
):
    """Continuous aggregate (the hypertable pattern, streaming half): hourly
    windows stream into a parquet rollup store in APPEND mode, so a window is
    written exactly once — when the watermark passes its end and it can no
    longer change. The store is therefore duplicate-free and append-only, and
    coarser aggregates (daily_from_hourly) read the store, never raw events:
    at 100 TB/day of events the daily report scans MB of rollups.

    Exactly-once across restarts comes from the checkpoint; windows still
    open (inside the watermark horizon) are by design NOT yet in the store.
    Returns the StreamingQuery (availableNow trigger: drains current input
    then stops — call .awaitTermination())."""
    hourly = windowed_counts(events, "1 hour", watermark)
    return (
        hourly.writeStream.format("parquet")
        .option("path", rollup_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def daily_from_hourly(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Daily totals FROM the persisted hourly rollup store (never re-scanning
    raw events) — the batch half of the continuous-aggregate cascade;
    integer-cents sums make the re-aggregation lossless AND engine-portable
    (proven by the batch oracle query events_rollup_cascade)."""
    hourly = spark.read.parquet(rollup_dir)
    return (
        hourly.groupBy(
            F.date_trunc("day", "window_start").alias("day"), "event_type"
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("day", "event_type")
    )


def start_memory_sink(df: DataFrame, name: str, output_mode: str = "append"):
    """Run a streaming frame into an in-memory table (tests / smoke).
    Returns the StreamingQuery; callers awaitTermination/processAllAvailable."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def incremental_dedup_stream(
    docs: DataFrame,
    fresh_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming ingest dedup against a PERSISTED fingerprint store — the
    third dedup-at-ingest shape next to the watermark-bounded
    deduplicated_stream and periodic batch compaction: unbounded horizon
    with state bounded to 32-char digests, never raw text.

    Each micro-batch runs incremental_exact_dedup against the parquet store:
    fresh (first-seen) rows append to `fresh_dir`, their digests append to
    `store_dir` for every later batch — so a document that ever landed is
    never emitted again, across batches AND restarts (replayed batches find
    their own digests already in the store and emit nothing). The batch and
    streaming paths share the SAME operator, so they cannot drift.

    Delivery note: the two appends are not atomic — a crash exactly between
    them makes the replay re-emit that batch's fresh rows into `fresh_dir`
    (at-least-once for the fresh output; the store itself only ever gains
    digests, so dedup correctness is unaffected). Compact `fresh_dir` by
    digest downstream if exactly-once materialization matters.

    Returns the StreamingQuery (availableNow trigger — call
    .awaitTermination())."""
    from schemamap_spark.operators.dedup import incremental_exact_dedup

    def _batch(batch_df, _batch_id):
        spark = batch_df.sparkSession
        try:
            store = spark.read.parquet(store_dir)
        except Exception:
            store = None  # first batch: no store yet
        fresh, fingerprints = incremental_exact_dedup(
            batch_df, store, id_col, text_col
        )
        fresh = fresh.persist()  # one computation for the two writes
        fresh.drop("fingerprint").write.mode("append").parquet(fresh_dir)
        fingerprints.write.mode("append").parquet(store_dir)
        fresh.unpersist()

    return (
        docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _checkpoint_token_prefix(checkpoint_dir: str) -> str:
    """Digest of the checkpoint IDENTITY for namespacing idempotency
    tokens. Only plain scheme-less paths are abspath'd (a relative path
    must hash the same no matter where the driver was launched ONLY if it
    resolves to the same dir — abspath is the identity there); URI-scheme
    checkpoints (file://, hdfs://) hash VERBATIM after trailing-slash
    normalization — os.path.abspath would prepend the driver's cwd to
    'hdfs://…', so a post-crash restart from a different working directory
    would derive a different prefix for the SAME checkpoint and re-append
    every replayed micro-batch, defeating exactly-once.

    Migration note: a stream created on the PRE-FIX code with a
    URI-scheme checkpoint carries tokens under the old (cwd-dependent)
    prefix, so the first restart after upgrading re-appends any
    micro-batch that was in flight at the upgrade — a one-time
    at-most-one-batch duplication per stream, visible in the manifest as
    two entries covering the same ids. If that matters, drain the stream
    (awaitTermination on availableNow) before upgrading, or dedup the
    ingested ids once after. Plain-path checkpoints are unaffected."""
    import hashlib
    import os as _os

    from schemamap_spark.sources.fscommit import split_scheme

    if split_scheme(checkpoint_dir) is None:
        ident = _os.path.abspath(checkpoint_dir)
    else:
        ident = checkpoint_dir.rstrip("/")
    return hashlib.md5(ident.encode()).hexdigest()[:12]


def ann_ingest_stream(
    vectors: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
):
    """Streaming embedding ingest into the PERSISTED IVF-PQ index store —
    the store-twin next to the dedup gate and the rollup store: each
    micro-batch encodes with the index's recorded models (pure function —
    same cells/codes as a batch append) and commits through the store's
    atomic manifest rewrite.

    Exactly-once store contents from an at-least-once driver: foreachBatch
    can replay a batch after a crash, but the append is keyed by a
    batch_token derived from the deterministic micro-batch id, and the
    token commits atomically WITH the batch dir in the one manifest
    rewrite — a replayed batch finds its token committed and no-ops. A
    crash BEFORE the manifest commit leaves an orphan dir no reader ever
    consults (ann_index_gc collects it) and the replay appends cleanly.

    The token is namespaced by a digest of the CHECKPOINT path, not the
    bare micro-batch id: batch ids restart at 0 for every new checkpoint,
    so a bare id would make a LATER ingestion run (new checkpoint, new
    source, same store) collide with the first run's tokens and silently
    drop all its batches as replays. Same checkpoint (a genuine restart /
    replay) → same prefix → dedup works; different checkpoint (a new
    pipeline) → different prefix → appends proceed.

    The store must already exist (ann_index_build on a seed corpus — the
    models have to be trained on something); drift of the streamed mass
    vs the trained distribution is visible through ann_index_drift as for
    batch appends. Returns the StreamingQuery (availableNow trigger —
    call .awaitTermination()).

    Concurrency: a batch backfill (ann_index_append) may run WHILE the
    stream ingests — appends serialize through the store's version-claim
    manifest log, so neither writer can drop the other's batches
    (tools/ann_race_probe.py pins this under real thread contention).
    Compact and GC are still one-at-a-time maintenance operations: run
    them between triggers or while the stream is stopped — they delete
    dirs, which no commit-log merge can make safe against a concurrent
    deleter."""
    from schemamap_spark.operators.ann_index import ann_index_append

    prefix = _checkpoint_token_prefix(checkpoint_dir)

    def _batch(batch_df, batch_id):
        ann_index_append(
            batch_df, index_dir, batch_token=f"stream-{prefix}-{batch_id}"
        )

    return (
        vectors.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def corpus_stats_stream(
    docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    group_col: str = "source",
    bins: int = 1000,
):
    """Streaming corpus-stats ingest — the fourth store twin (dedup gate,
    rollup store, ANN store, and now the stats store): each micro-batch
    sketches its partials (operators/curation.append_corpus_stats) under
    a checkpoint-namespaced batch_id, so corpus_stats_report serves a
    CONTINUOUS dashboard over the landed corpus without ever re-scanning
    history — the 100 TB/day posture where "stats so far today" must cost
    store rows, not a day of text.

    Exactly-once DASHBOARD contents from an at-least-once driver, by a
    different mechanism than the ANN store's token ledger: partials are
    DETERMINISTIC functions of the micro-batch (Structured Streaming
    replays a batch_id with identical contents from the checkpoint), and
    corpus_stats_report collapses duplicate (batch_id, group[, bin]) rows
    exactly — so a replayed micro-batch re-appends value-identical rows
    that the report de-duplicates. The store's documented crash-recovery
    path ("re-append the torn batch") IS the replay path; no up-front
    read of the store is needed, which also makes this face append-only
    (no manifest race — concurrent batch append_corpus_stats calls with
    DISTINCT batch_ids are safe, unlike the ANN store).

    The batch_id is namespaced by a digest of the checkpoint identity
    (_checkpoint_token_prefix — cwd-independent for URI checkpoints), so
    a LATER ingestion run (new checkpoint, micro-batch ids restarting at
    0) appends under fresh batch_ids instead of colliding with the first
    run's. Returns the StreamingQuery (availableNow trigger — call
    .awaitTermination())."""
    from schemamap_spark.operators.curation import append_corpus_stats

    prefix = _checkpoint_token_prefix(checkpoint_dir)

    def _batch(batch_df, batch_id):
        append_corpus_stats(
            batch_df,
            store_dir,
            batch_id=f"stream-{prefix}-{batch_id}",
            text_col=text_col,
            group_col=group_col,
            bins=bins,
        )

    return (
        docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
