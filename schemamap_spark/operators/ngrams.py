"""Corpus n-gram frequency statistics.

The primitive behind every "hot token" guard in the dedup family: winnowing's
stop-fingerprint max_df, decontamination's hot-gram cap, and prefix
filtering's global rarity order all need "how many documents contain this
gram" at corpus scale. This module computes it directly and exposes the two
consumers a curation pipeline wants: top-k frequent n-grams (corpus
vocabulary / boilerplate report) and the stop-gram set above a document-
frequency ratio (to exclude from fingerprinting).

Scale shape (100 TB):
- tokenize once per document, explode n-grams, then aggregate in TWO stages:
  (gram, doc_id) -> per-doc count, then gram -> (df, tf). A single
  agg(countDistinct(doc_id), count(*)) would plan an Expand (row doubling);
  the two-stage form is plain partial-aggregated hash aggregation both times.
  Better: stage 1 is SHUFFLE-FREE — the input is already hash-partitioned by
  doc_id (ensure_parallelism), which satisfies the (gram, doc_id) clustering
  requirement, so Catalyst elides that Exchange and the plan's only real
  shuffle is the gram-keyed one (verified with explain("formatted")).
- the final top-k is orderBy+limit = TakeOrderedAndProject: per-partition
  heaps, only k rows to the driver-side merge, never a full sort.
- the shuffle key is the gram STRING here because the output wants the gram
  back. If only guard-set membership is needed at extreme scale, aggregate on
  xxhash64(gram) instead (8-byte shuffle key) and join the winners back to
  recover text — the pattern decontamination/winnowing already use for their
  max_df guards (operators/dedup.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ngrams_from_tokens(toks_col: str, n: int) -> F.Column:
    """ALL n-token grams (with repeats — tf needs multiplicity) from a
    pre-split token-array column: the one positional k-gram expression
    (dedup shingles are its array_distinct, winnowing hashes it). The
    short-doc guard must be a conditional, NOT greatest(..., 0): sequence(1,
    0) yields the DESCENDING array [1, 0], whose transform then indexes past
    the token array (an ANSI-mode runtime error)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    parts = ", ".join(f"{toks_col}[i - 1 + {j}]" for j in range(n))
    return F.expr(
        f"case when size({toks_col}) < {n} then cast(array() as array<string>) "
        f"else transform(sequence(1, size({toks_col}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) end"
    )


def corpus_ngram_stats(
    docs: DataFrame,
    n: int = 2,
    top: int | None = 20,
    min_df: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-gram corpus statistics: (gram, df, tf, df_ratio).

    df = number of distinct documents containing the gram, tf = total
    occurrences corpus-wide, df_ratio = df / total documents (round 6).
    `top` keeps the (df desc, gram) head — a deterministic total order, so
    the limit boundary is engine-stable; None returns every gram with
    df >= min_df.
    """
    from schemamap_spark.session import ensure_parallelism

    spread = ensure_parallelism(docs, id_col)
    grams = (
        spread.select(
            F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks")
        )
        .filter(F.size("toks") >= n)
        .select("doc_id", F.explode(ngrams_from_tokens("toks", n)).alias("gram"))
    )
    per_doc = grams.groupBy("gram", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    agg = per_doc.groupBy("gram").agg(
        F.count(F.lit(1)).alias("df"), F.sum("c").cast("bigint").alias("tf")
    )
    if min_df > 1:
        agg = agg.filter(F.col("df") >= min_df)
    total = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    out = (
        agg.crossJoin(F.broadcast(total))
        .select(
            "gram",
            "df",
            "tf",
            F.round(F.col("df").cast("double") / F.col("_n_docs").cast("double"), 6).alias(
                "df_ratio"
            ),
        )
        .orderBy(F.desc("df"), "gram")
    )
    return out.limit(top) if top is not None else out


def stop_grams(
    docs: DataFrame,
    n: int = 3,
    max_df_ratio: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Grams whose document-frequency ratio EXCEEDS max_df_ratio — the
    boilerplate/template set a fingerprinting pass should ignore. One column
    (gram), distinct, unordered: this is a guard SET, typically broadcast
    back into the pipeline as an anti-join side."""
    stats = corpus_ngram_stats(
        docs, n=n, top=None, min_df=1, id_col=id_col, text_col=text_col
    )
    return stats.filter(F.col("df_ratio") > max_df_ratio).select("gram")


def tfidf_top_terms(
    docs: DataFrame,
    n: int = 1,
    top_per_doc: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top terms by smoothed TF-IDF:
    score = tf_in_doc * (ln((N+1)/(df+1)) + 1), output (doc_id, gram, tf,
    df, score round6, rank) with rank <= top_per_doc under the deterministic
    (score desc, gram) order.

    Shuffle shape: the per-(gram, doc) counts reuse corpus_ngram_stats'
    shuffle-free stage 1, the gram->df map is one gram-keyed aggregation,
    joined back on gram (both sides partial-aggregated slim rows — never
    text), and the final per-doc ranking windows on doc_id. Three shuffles
    total, each on a short key, independent of document length."""
    from pyspark.sql import Window

    from schemamap_spark.session import ensure_parallelism

    spread = ensure_parallelism(docs, id_col)
    grams = (
        spread.select(
            F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks")
        )
        .filter(F.size("toks") >= n)
        .select("doc_id", F.explode(ngrams_from_tokens("toks", n)).alias("gram"))
    )
    per_doc = grams.groupBy("gram", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    df_map = per_doc.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    scored = (
        per_doc.join(df_map, "gram")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "gram",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("_n_docs") + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                )
            ).alias("_score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_score"), "gram")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_per_doc)
        .select(
            "doc_id", "gram", "tf", "df", F.round("_score", 6).alias("score"), "rank"
        )
        .orderBy("doc_id", "rank")
    )


def bigram_lm_train(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.1,
) -> tuple[DataFrame, DataFrame, int]:
    """Train an add-k-smoothed bigram language model from a corpus — the
    statistics behind CCNet-style perplexity filtering, without external
    models: P(w2|w1) = (C(w1,w2) + k) / (C(w1) + k·(V+1)), V = vocab size
    (+1 reserves mass for unseen successors).

    Returns (bigram_lp, context_denom, vocab_size):
      bigram_lp:     (w1, w2, lp)   — log P(w2|w1) for SEEN bigrams
      context_denom: (w1, denom)    — C(w1) + k·(V+1) per seen context
    Both are gram-keyed frames meant for JOINS (never broadcast a
    vocabulary); train and score are two scans + short-key shuffles."""
    if k <= 0:
        raise ValueError(f"smoothing k must be positive, got {k}")
    from schemamap_spark.session import ensure_parallelism

    toks = (
        ensure_parallelism(docs, id_col)
        .select(F.split(F.col(text_col), " ").alias("toks"))
    )
    uni = (
        toks.select(F.explode("toks").alias("w1"))
        .groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.count()
    bi = (
        toks.select(F.explode(ngrams_from_tokens("toks", 2)).alias("g"))
        .groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
        .select(
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
            "c2",
        )
    )
    denom = uni.select(
        "w1", (F.col("c1") + F.lit(k) * F.lit(float(vocab + 1))).alias("denom")
    )
    bigram_lp = (
        bi.join(denom, "w1")
        .select("w1", "w2", F.log((F.col("c2") + F.lit(k)) / F.col("denom")).alias("lp"))
    )
    return bigram_lp, denom, vocab


def perplexity_score(
    docs: DataFrame,
    bigram_lp: DataFrame,
    context_denom: DataFrame,
    vocab_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.1,
) -> DataFrame:
    """Per-document bigram perplexity under a bigram_lm_train model:
    exp(−mean log P(w2|w1)) over the doc's bigrams. Low = in-distribution,
    high = noise/garbage — threshold or quantile-filter downstream
    (quantile_quality_filter composes via quality_col='ppl' on −ppl).

    Unseen bigram with SEEN context w1 → log(k / denom(w1)); unseen context
    → log(1/(V+1)) (uniform over the reserved mass). Docs with <2 tokens
    carry NULL ppl (no bigrams to score — callers decide their fate).
    Scale shape: explode bigrams once, LEFT JOIN the two gram-keyed model
    frames, one groupBy(doc) — model never broadcasts, text never shuffles
    (only (doc_id, w1, w2) rows)."""
    from schemamap_spark.session import ensure_parallelism

    grams = (
        ensure_parallelism(docs, id_col)
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
        .select(F.col(id_col), F.explode(ngrams_from_tokens("toks", 2)).alias("g"))
        .select(
            id_col,
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
        )
    )
    scored = (
        grams.join(bigram_lp, ["w1", "w2"], "left")
        .join(context_denom, "w1", "left")
        .select(
            id_col,
            F.coalesce(
                F.col("lp"),                                  # seen bigram
                F.log(F.lit(k) / F.col("denom")),             # seen context only
                F.lit(-math.log(vocab_size + 1)),            # unseen context
            ).alias("lp"),
        )
    )
    return (
        docs.select(id_col).join(
            scored.groupBy(id_col).agg(
                F.round(F.exp(-F.avg("lp")), 6).alias("ppl"),
                F.count(F.lit(1)).alias("n_bigrams"),
                # order-independent twin of ppl for cross-engine value
                # checks: per-bigram lp rounded to integer micro-nats, then
                # exact integer summation (float avg->exp summation order is
                # partition-dependent in the last ulps; integer sums are not
                # - the curate_funnel quality_micros pattern)
                F.sum(F.round(F.col("lp") * 1e6).cast("bigint")).alias("lp_micros"),
            ),
            id_col,
            "left",
        )
    )
