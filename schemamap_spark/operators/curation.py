"""End-to-end corpus curation: the composition a training-data pipeline
actually runs, built from the engine's own operators.

    quality gate  ->  exact-dup collapse  ->  near-dup group collapse
                  ->  deterministic split assignment

Each stage is one of the already-oracle-checked primitives (quality_score,
exact fingerprints, prefix-filtered Jaccard pairs + connected components,
Knuth-hash splits); this module only composes them, so the pipeline inherits
their scale properties: every shuffle is on a digest/id key, near-dup
detection is candidates→verify (never all-pairs), and the group collapse
keeps the smallest doc_id as the deterministic representative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from schemamap_spark.operators.dedup import (
    decontaminate,
    exact_digest,
    incremental_exact_dedup,
    jaccard_similar_pairs,
)


def hygiene_gate(
    docs: DataFrame,
    quality_min: float = 0.3,
    max_dup_line_ratio: float | None = None,
    max_top_bigram_ratio: float | None = None,
    redact: bool = False,
    normalize: bool = False,
    text_col: str = "text",
) -> DataFrame:
    """The STATELESS text-hygiene prefix: normalize → PII-redact → quality +
    repetition gates, adding a `quality` column. Pure Column expressions (no
    shuffle, no state), so the same function serves the batch pipeline
    (curate_corpus) and the streaming ingest twin
    (streaming.curated_document_stream) — one definition, no drift."""
    from schemamap_spark.functions.text import (
        dup_line_ratio,
        normalize_text,
        quality_score,
        redact_pii,
        top_bigram_ratio,
    )

    out = docs
    if normalize:
        out = out.withColumn(text_col, normalize_text(text_col))
    if redact:
        out = out.withColumn(text_col, redact_pii(text_col))
    out = out.withColumn("quality", quality_score(text_col)).filter(
        F.col("quality") >= quality_min
    )
    # repetition gates share the quality projection: one scan, no extra shuffle
    if max_dup_line_ratio is not None:
        out = out.filter(dup_line_ratio(text_col) <= max_dup_line_ratio)
    if max_top_bigram_ratio is not None:
        out = out.filter(top_bigram_ratio(text_col) <= max_top_bigram_ratio)
    return out


def curate_corpus(
    docs: DataFrame,
    quality_min: float = 0.3,
    jaccard_threshold: float = 0.8,
    k: int = 3,
    split_weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_ratio: float | None = None,
    max_top_bigram_ratio: float | None = None,
    redact: bool = False,
    normalize: bool = False,
    benchmark: DataFrame | None = None,
    contamination_threshold: float = 0.8,
    contamination_k: int = 13,
    stats: dict | None = None,
    keep: str = "min_id",
) -> DataFrame:
    """Returns the curated corpus: rows of `docs` that survive all gates,
    with added columns quality (double), fingerprint (exact-dup digest),
    dup_group (near-dup group id, = doc_id for singletons/representatives)
    and split (train/val/test).

    Survivorship rules (all deterministic):
    - quality  >= quality_min (quality_score heuristic);
    - optional Gopher-style repetition gates: dup_line_ratio and
      top_bigram_ratio must not exceed their thresholds when given;
    - one representative per byte-identical normalized text (always min id:
      identical text means identical quality, so the policies coincide);
    - one representative per near-duplicate group at jaccard_threshold over
      k-token shingles — ``keep="min_id"`` (default, deterministic proxy)
      or ``keep="best_quality"`` (the production policy: argmax quality,
      ties broken by min id; near-dups are NOT byte-identical, so their
      quality scores genuinely differ). Either way ``dup_group`` stays the
      group's min reachable id — a stable group key independent of which
      member represents it;
    - when ``benchmark`` is given: no doc containing >=
      contamination_threshold of any benchmark doc's contamination_k-grams
      (eval-set decontamination, applied before dedup).

    ``normalize=True`` first rewrites text_col through normalize_text
    (control/zero-width strip, whitespace collapse), and ``redact=True``
    then rewrites it through redact_pii — both BEFORE any gate, so documents
    that differ only in byte noise or identifiers collapse as exact dups —
    the order a production hygiene pass wants.

    ``stats``, when given a dict, receives the intermediate frames for funnel
    accounting: ``gated`` (post-hygiene/decontamination), ``exact_survivors``
    (post exact-dup collapse, pre near-dup collapse) and ``groups`` (the
    multi-member near-dup components as (node, group_id)). These share
    lineage with the returned frame — persist upstream if aggregating them
    separately at scale would re-read the scan.
    """
    from schemamap_spark.operators.graph import connected_components
    from schemamap_spark.operators.sampling import assign_splits

    scored = hygiene_gate(
        docs, quality_min, max_dup_line_ratio, max_top_bigram_ratio,
        redact, normalize, text_col,
    )

    if benchmark is not None:
        # decontaminate AFTER the hygiene gate (smaller corpus side) and
        # BEFORE dedup (a contaminated representative must not shadow a
        # clean near-duplicate)
        scored = decontaminate(
            scored, benchmark, contamination_threshold, contamination_k,
            id_col=id_col, text_col=text_col,
        )

    # one row per digest, by the incremental store's representative rule;
    # the output's column order stays fingerprint, id, then the gated columns
    fresh, _ = incremental_exact_dedup(scored, id_col=id_col, text_col=text_col)
    survivors = fresh.select("fingerprint", id_col, *[c for c in scored.columns if c != id_col])

    # id_col/text_col must reach the shingling stage: with non-default names
    # the old hardcoded call failed on missing doc_id/text — or silently
    # deduped on the WRONG columns if the frame happened to carry both names
    pairs = jaccard_similar_pairs(
        survivors, jaccard_threshold, k, id_col=id_col, text_col=text_col
    )
    groups = connected_components(pairs)  # (node, group_id = min reachable id)
    if keep == "min_id":
        non_reps = groups.filter(F.col("node") != F.col("group_id")).select(
            F.col("node").alias(id_col)
        )
    elif keep == "best_quality":
        # groups holds only multi-member components (pair-derived), so the
        # per-group window runs over the near-dup rows, never the corpus
        member_q = groups.join(
            survivors.select(F.col(id_col).alias("node"), F.col("quality")),
            "node",
        )
        w_rep = Window.partitionBy("group_id").orderBy(
            F.desc_nulls_last("quality"), F.col("node")
        )
        non_reps = (
            member_q.withColumn("_rn", F.row_number().over(w_rep))
            .filter(F.col("_rn") > 1)
            .select(F.col("node").alias(id_col))
        )
    else:
        raise ValueError(
            f"unknown keep policy {keep!r} (use 'min_id' or 'best_quality')"
        )
    curated = (
        survivors.join(non_reps, id_col, "left_anti")
        .join(
            groups.select(F.col("node").alias(id_col), "group_id"),
            id_col,
            "left",
        )
        .withColumn("dup_group", F.coalesce("group_id", F.col(id_col)))
        .drop("group_id")
    )
    if stats is not None:
        stats["gated"] = scored
        stats["exact_survivors"] = survivors
        stats["groups"] = groups
    return assign_splits(curated, id_col, split_weights)


def quantile_quality_filter(
    docs: DataFrame,
    drop_fraction: float = 0.1,
    quality_col: str | None = None,
    text_col: str = "text",
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Drop the lowest `drop_fraction` of documents by quality score — the
    data-relative alternative to hygiene_gate's absolute quality_min, for
    corpora where the score distribution shifts by source or language.

    The cutoff is the corpus drop_fraction-quantile of quality, kept rows
    satisfy quality >= cutoff (so slightly MORE than 1-drop_fraction survive
    when ties sit on the boundary — deterministic, never arbitrary tie
    dropping). quality_col names a precomputed score column; otherwise
    quality_score(text_col) is added as `quality`.

    exact=False (default) uses approx_percentile — a mergeable constant-
    memory sketch, the only sane choice at 100 TB where exact percentile
    would buffer every value in one aggregation state. exact=True is for
    small-corpus parity checks against engines' quantile_cont.
    """
    if not 0.0 <= drop_fraction < 1.0:
        raise ValueError(f"drop_fraction must be in [0, 1), got {drop_fraction}")
    from schemamap_spark.functions.text import quality_score

    if quality_col is None:
        scored = docs.withColumn("quality", quality_score(text_col))
        qcol = "quality"
    else:
        scored = docs
        qcol = quality_col
    if drop_fraction == 0.0:
        return scored
    fn = (
        f"percentile({qcol}, {drop_fraction})"
        if exact
        else f"approx_percentile({qcol}, {drop_fraction}, {accuracy})"
    )
    cutoff = scored.agg(F.expr(fn).alias("_q_cutoff"))
    return (
        scored.crossJoin(F.broadcast(cutoff))
        .filter(F.col(qcol) >= F.col("_q_cutoff"))
        .drop("_q_cutoff")
    )


def curation_report(original: DataFrame, curated: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One-row accounting of the curation funnel (counts only — cheap).

    No dup_group count here: after collapse every curated row IS its group's
    representative, so countDistinct(dup_group) == count(*) by construction —
    a column that can never catch a grouping bug. Use curate_corpus's
    ``stats`` hook for the pre-collapse group count instead."""
    n0 = original.select(F.count(F.lit(1)).alias("input_docs"))
    n1 = curated.agg(
        F.count(F.lit(1)).alias("curated_docs"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
    )
    return n0.crossJoin(F.broadcast(n1)).withColumn(
        "removed_docs", F.col("input_docs") - F.col("curated_docs")
    )


def corpus_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "source",
) -> DataFrame:
    """One-stop corpus diagnostics — the "corpus card" a training-data team
    reads before touching the pipeline. One row per group (or one TOTAL row
    when group_col is None): doc/token/char counts, quality quantiles
    (approx_percentile sketch — mergeable, constant memory), exact-dup rate
    from digest counting, and mean language-heuristic confidence inputs.

    ONE aggregation pass over one scan: every metric is a Column expression
    or sketch inside a single agg(), so the report costs a map + one shuffle
    regardless of how many metrics ride along. The exact-dup rate uses
    approx_count_distinct on the digest (HLL ±1% at default rsd) — at corpus
    scale an exact countDistinct would shuffle every digest; the dedup
    OPERATORS stay exact, this is a dashboard number."""
    from schemamap_spark.functions.text import quality_score, token_count

    g = (
        docs.withColumn("_q", quality_score(text_col))
        .withColumn("_tok", token_count(text_col))
        .withColumn("_fp", exact_digest(text_col))
    )
    keys = [group_col] if group_col else []
    agged = g.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("_tok").cast("bigint").alias("tokens"),
        F.sum(F.length(text_col)).cast("bigint").alias("chars"),
        F.round(F.avg("_q"), 6).alias("quality_mean"),
        F.round(F.expr("approx_percentile(_q, 0.1, 10000)"), 6).alias("quality_p10"),
        F.round(F.expr("approx_percentile(_q, 0.5, 10000)"), 6).alias("quality_p50"),
        F.round(F.expr("approx_percentile(_q, 0.9, 10000)"), 6).alias("quality_p90"),
        F.approx_count_distinct("_fp").alias("approx_unique_texts"),
    )
    out = agged.withColumn(
        "approx_dup_ratio",
        # HLL can OVERestimate distinct digests slightly (±rsd), which would
        # make the ratio negative on dup-free groups — clamp at 0
        F.round(
            F.greatest(
                F.lit(0.0),
                (F.col("docs") - F.col("approx_unique_texts")).cast("double")
                / F.col("docs"),
            ),
            6,
        ),
    )
    if group_col:
        return out.orderBy(group_col)
    return out.select(F.lit("TOTAL").alias("scope"), "*")


# ---------------------------------------------------------------------------
# Incremental corpus stats — the mergeable twin of corpus_report
#
# corpus_report re-scans the corpus; at 100 TB/day the dashboard instead
# merges per-batch PARTIALS: additive scalars (docs/tokens/chars/quality
# micro-sum), a fixed-bin quality histogram (additive), and an HLL sketch of
# the text digests (union-mergeable, operators/sketches.py rationale). Every
# component merges exactly or with known resolution, so "stats so far this
# month" costs KBs of store rows, never a history re-scan.
# ---------------------------------------------------------------------------


def corpus_stats_partials(
    docs: DataFrame,
    batch_id: str,
    text_col: str = "text",
    group_col: str = "source",
    bins: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """One scan -> two small partial frames for a batch:
    scalars: (batch_id, group, docs, q_docs, tokens, chars, q_micros, fp_sketch)
    hist:    (batch_id, group, bin, n)   quality histogram, bin = floor(q*bins)
    q_micros is the integer micro-sum of quality (order/merge-independent)
    over the q_docs docs with non-NULL quality — NULL-text docs count in
    `docs` but not in the mean or the histogram, matching corpus_report's
    avg(_q) semantics; fp_sketch is an HLL sketch of md5(normalized text).

    The two frames are UNCACHED plans over one shared scored scan —
    collecting both re-runs quality/token scoring twice. That is the right
    default for a public function with no release handle (a persisted scan
    the caller can't unpersist leaks one cache per call for the session
    lifetime); append_corpus_stats, which materializes both frames
    back-to-back in its writes, persists the shared scan itself and
    releases it as soon as both writes land. Callers who want the same
    amortization can persist `docs` (the dominant cost is its scan) around
    the call."""
    scalars, hist, _g = _corpus_stats_partials_cached(
        docs, batch_id, text_col, group_col, bins, persist=False
    )
    return scalars, hist


def _corpus_stats_partials_cached(
    docs: DataFrame,
    batch_id: str,
    text_col: str,
    group_col: str,
    bins: int,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    from schemamap_spark.functions.text import quality_score, token_count

    g = (
        docs.withColumn("_q", quality_score(text_col))
        .withColumn("_tok", token_count(text_col))
        .withColumn("_fp", exact_digest(text_col))
    )
    # the scored frame feeds BOTH partial outputs; unpersisted, the two
    # store writes would each re-run quality/token/digest over the batch
    # (the bm25-index multi-consumer rule). Persist ONLY when the caller
    # owns the release (append_corpus_stats unpersists after its writes) —
    # the public partials function stays uncached so it can't leak a
    # session-lifetime cache with no handle to free it.
    if persist:
        from pyspark import StorageLevel

        g = g.persist(StorageLevel.MEMORY_AND_DISK)
    scalars = g.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.count("_q").alias("q_docs"),
        F.sum("_tok").cast("bigint").alias("tokens"),
        F.sum(F.length(text_col)).cast("bigint").alias("chars"),
        F.sum(F.round(F.col("_q") * 1e6).cast("bigint")).alias("q_micros"),
        F.hll_sketch_agg("_fp").alias("fp_sketch"),
    ).select(F.lit(batch_id).alias("batch_id"), "*")
    hist = (
        # NULL quality (NULL text) stays out of the histogram — least()
        # SKIPS nulls, so an unfiltered NULL _q would land in the TOP bin
        g.filter(F.col("_q").isNotNull())
        .withColumn(
            "bin",
            F.least(F.floor(F.col("_q") * bins).cast("int"), F.lit(bins - 1)),
        )
        .groupBy(F.col(group_col).alias("group"), "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        # bins rides every row so the report can recover (and validate) the
        # resolution — a report guessing a different bins value would
        # silently mis-scale every quantile
        .select(F.lit(batch_id).alias("batch_id"), F.lit(bins).alias("bins"), "*")
    )
    return scalars, hist, g


def append_corpus_stats(
    docs: DataFrame,
    store_dir: str,
    batch_id: str,
    text_col: str = "text",
    group_col: str = "source",
    bins: int = 1000,
) -> None:
    """Sketch a batch into the two-part parquet store (store_dir/scalars,
    store_dir/hist). Write ORDER is the crash contract: hist first, scalars
    last — the scalars row is the batch's commit record. A crash between
    the two writes leaves orphan hist rows for an uncommitted batch; the
    report ignores them (it reads only committed batches), and RE-APPENDING
    the same batch_id is the supported recovery: partials are
    deterministic, and the report collapses the resulting duplicate rows,
    so a re-append is idempotent rather than double-counting."""
    scalars, hist, g = _corpus_stats_partials_cached(
        docs, batch_id, text_col, group_col, bins
    )
    try:
        # one computation for the two writes (they share the scan + quality)
        hist.write.mode("append").parquet(f"{store_dir}/hist")
        scalars.write.mode("append").parquet(f"{store_dir}/scalars")
    finally:
        # both consumers have materialized — release the scored-scan cache
        # instead of accumulating one per appended batch for the session
        g.unpersist()


def corpus_stats_report(spark, store_dir: str) -> DataFrame:
    """Dashboard merge over the partial store: per group — exact docs/
    tokens/chars sums, exact-to-the-micro quality mean, histogram quantiles
    (resolution 1/bins, with bins read from the store itself — mixed-bins
    stores raise rather than silently mis-scaling), HLL unique-text
    estimate and clamped dup ratio. Cost scales with store rows (batches x
    groups x occupied bins).

    Torn-append handling is two-directional. append_corpus_stats writes
    hist BEFORE scalars, so the scalars row is the commit record:
    (a) scalars with q_docs > 0 but no hist rows can only mean partial
    data loss — the report raises and names the batches (quantiles
    silently computed over a subset of the batches the means cover would
    be a wrong dashboard, not a slow one);
    (b) the ACTUAL crash window — hist landed, scalars didn't — leaves
    hist rows whose batch never committed. Those are excluded from the
    quantiles (semi-join on committed batch_ids), and because the fix for
    a torn batch is to re-append it, duplicate rows from the re-append
    (hist per (batch_id, group, bin); scalars per (batch_id, group)) are
    collapsed — partials are deterministic, so duplicates are
    value-identical and keeping one is exact."""
    from pyspark.sql import Window

    committed = spark.read.parquet(f"{store_dir}/scalars").dropDuplicates(
        ["batch_id", "group"]
    )
    hist_raw = spark.read.parquet(f"{store_dir}/hist")
    # orphan (uncommitted) hist rows still count as "the hist write
    # happened" for the torn check in (a) — so batch presence comes from
    # the RAW frame, while everything value-bearing reads the committed set
    hist_batches = {
        r.batch_id for r in hist_raw.select("batch_id").distinct().collect()
    }
    hist_committed = (
        hist_raw.join(
            F.broadcast(committed.select("batch_id").distinct()), "batch_id", "semi"
        )
        .groupBy("batch_id", "bins", "group", "bin")
        .agg(F.max("n").alias("n"))
    )
    torn = sorted(
        r.batch_id
        for r in committed.groupBy("batch_id")
        .agg(F.sum("q_docs").alias("q"))
        .filter(F.col("q") > 0)
        .collect()
        if r.batch_id not in hist_batches
    )
    if torn:
        raise ValueError(
            f"corpus stats store is torn: batches {torn} committed scalars "
            "with quality docs but no histogram rows (crash between the two "
            "appends) — re-append those batches"
        )

    bins_vals = [
        r.bins for r in hist_committed.select("bins").distinct().collect()
    ]
    if len(bins_vals) > 1:
        raise ValueError(
            f"corpus stats store mixes histogram resolutions {sorted(bins_vals)} — "
            "rebuild with one bins value"
        )
    # an EMPTY hist store is legal (every doc so far had NULL quality):
    # quantiles are simply unknown, like approx_percentile over no rows
    bins = int(bins_vals[0]) if bins_vals else None

    scalars = (
        committed
        .groupBy("group")
        .agg(
            F.sum("docs").cast("bigint").alias("docs"),
            F.sum("q_docs").cast("bigint").alias("q_docs"),
            F.sum("tokens").cast("bigint").alias("tokens"),
            F.sum("chars").cast("bigint").alias("chars"),
            F.sum("q_micros").alias("q_micros"),
            F.hll_sketch_estimate(F.hll_union_agg("fp_sketch", True)).alias(
                "approx_unique_texts"
            ),
        )
        .select(
            "group", "docs", "tokens", "chars",
            # mean over docs WITH a quality value (corpus_report's avg(_q)
            # skips NULLs); all-NULL groups surface NULL, matching avg()
            F.round(
                F.col("q_micros") / 1e6 / F.nullif(F.col("q_docs"), F.lit(0)),
                6,
            ).alias("quality_mean"),
            "approx_unique_texts",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    (F.col("docs") - F.col("approx_unique_texts")).cast("double")
                    / F.col("docs"),
                ),
                6,
            ).alias("approx_dup_ratio"),
        )
    )
    if bins is None:
        return scalars.select(
            "*",
            F.lit(None).cast("double").alias("quality_p10"),
            F.lit(None).cast("double").alias("quality_p50"),
            F.lit(None).cast("double").alias("quality_p90"),
        ).orderBy("group")

    hist = hist_committed.groupBy("group", "bin").agg(F.sum("n").alias("n"))
    w_cum = Window.partitionBy("group").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy("group")
    cum = hist.select(
        "group", "bin", F.sum("n").over(w_cum).alias("cum"), F.sum("n").over(w_tot).alias("tot")
    )

    def q_at(p):
        b = F.min(F.when(F.col("cum") >= p * F.col("tot"), F.col("bin")))
        return F.round((b + 0.5) / bins, 6)

    quants = cum.groupBy("group").agg(
        q_at(0.1).alias("quality_p10"),
        q_at(0.5).alias("quality_p50"),
        q_at(0.9).alias("quality_p90"),
    )
    # LEFT join: a group whose quality is all-NULL has scalars but no
    # histogram rows — it must still report (with NULL quantiles), not
    # silently vanish from the dashboard
    return scalars.join(quants, "group", "left").orderBy("group")
