"""BM25 lexical retrieval — the classic inverted-index ranking baseline.

Okapi BM25 (Robertson & Walker, public formula) over the corpus:

    score(q, d) = sum_{t in q∩d} idf(t) * tf_td*(k1+1)
                                          / (tf_td + k1*(1 - b + b*dl/avgdl))
    idf(t) = ln((N - df_t + 0.5)/(df_t + 0.5) + 1)

Every training-data pipeline eventually needs it: eval-set retrieval
sanity checks, nearest-text lookup for contamination triage, the lexical
half of hybrid (BM25 + dense) search next to the ANN ladder.

Scale shape: the corpus reduces once to (doc_id, term, tf, dl) rows — an
inverted index, never raw text; queries join it on the TERM (short-key
shuffle ∝ posting lists touched, not corpus size); per-(query, doc) scores
aggregate as ORDER-INDEPENDENT integer micro-scores (each term contribution
rounds to micros before the integer sum — the perplexity_score pattern), so
ranking is deterministic under any partitioning and the DuckDB oracle
replays it exactly. Top-k per query is one window over the already-reduced
(query, doc) scores. Hot guard: `max_df_ratio` drops stop-terms (the
quadratic posting lists) BEFORE the join — at corpus scale "the" would
otherwise join every document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def _dlit(x: float) -> str:
    """A Python float as a Spark SQL DOUBLE literal with the exact same
    bits as F.lit(x): repr round-trips doubles, and the 'D' suffix keeps
    the parser from reading the token as DECIMAL. Scientific-notation
    reprs (1e-07) go through a string cast, which Spark parses with
    Double.parseDouble — also exact."""
    r = repr(float(x))
    if "e" in r or "E" in r:
        return f"cast('{r}' as double)"
    return f"{r}D"


def bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, tf, dl): the inverted-index rows BM25 scores over.
    Persist to parquet to search repeatedly without re-tokenizing."""
    from schemamap_spark.session import ensure_parallelism

    toks = (
        ensure_parallelism(docs, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("toks"),
        )
        .select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    )
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = K1,
    b: float = B,
    max_df_ratio: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    index: DataFrame | None = None,
    n_docs: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Top-k BM25 documents per query: (query_id, doc_id, score_micros,
    rank), rank ordered by (score_micros desc, doc_id) — a total order, so
    the cut boundary is engine-stable. Query terms are DISTINCT (standard
    BM25 ignores query-side tf). max_df_ratio drops terms appearing in more
    than that fraction of documents before the join (stop-term hot guard);
    None keeps everything.

    Pass a precomputed `index` (from bm25_index, ideally persisted or
    parquet-backed) to amortize tokenization across calls; otherwise one is
    built from `docs` inline and persisted through a fingerprint-named temp
    view (one view + one cache entry per distinct corpus plan, reused
    across calls — see the owns-index comment). When `index` is supplied it is the SINGLE
    source of corpus statistics: N, avgdl, and the stop-term guard all
    derive from the index, and `docs` is ignored — a stale or
    wrong-corpus index can therefore never silently mix with a fresh
    docs count and skew idf. An index-derived N counts indexed documents
    only (NULL-text docs never produce index rows); pass `n_docs` to
    assert the true corpus size when those differ.

    `ordered=False` skips the final (query_id, rank) orderBy — same rows,
    same ranks, unspecified row order. For consumers that treat the result
    as a SET (candidate generation for hybrid_rerank_topk / rrf_fuse), the
    global sort is a range Exchange the downstream union/aggregate
    immediately destroys; Catalyst does not eliminate it on its own
    (measured in the r18 hybrid_rerank plan — guide §2.4, an orderBy used
    only to make output deterministic)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if index is not None and n_docs is not None and n_docs < 1:
        raise ValueError(f"n_docs must be >= 1, got {n_docs}")
    owns_index = index is None
    if owns_index:
        # The scoring pipeline — stats, df map, scoring, rank cut — is
        # ONE spark.sql statement (guide §1.2 driver work): classic
        # PySpark analyzes eagerly per DataFrame op, so the former ~15
        # chained ops paid ~15 analyzer passes over a growing tree per
        # call — the r18 stage timeline showed hybrid_rerank's FIRST
        # stage submitting at +0.62 s of a 1.58 s warm run, nearly all
        # driver-side construction. One SQL block is one parse + one
        # analysis; the physical plan is the former Column chain's (r19
        # plan diff; _dlit keeps every double literal bit-identical to
        # the former F.lit constants).
        #
        # The inverted index feeds TWO consumers in the SQL (df map,
        # scoring join). Unpersisted, Spark would re-run the full corpus
        # tokenize→explode→groupBy once per consumer — at corpus scale
        # that is 2 scans of every byte of text (CTE inlining gives the
        # copies different pruned columns, so exchange reuse does NOT
        # dedup them — measured). The index is therefore registered as a
        # temp view and the VIEW-wrapped reference persisted — the
        # standard `CACHE TABLE view` pattern, and the only persist shape
        # a spark.sql reference can actually hit: CacheManager keys on
        # the normalized plan, and a view reference resolves to a
        # View-wrapped tree that never matches a bare persisted frame
        # (measured on 4.1). The view name is a digest of the docs plan
        # + column choice, so repeated calls over the same corpus re-use
        # one view + one cache entry instead of accumulating per call.
        # Stats: N and avgdl in one aggregate pass over `docs` directly
        # (avg(size(split)) ≡ the index-side avg of first(dl) per doc —
        # r18 equivalence argument), NULL-text docs skipped
        # ANSI-independently via the CASE guard (ADVICE r18: with ansi
        # off, size(split(NULL)) is -1, not NULL).
        import hashlib

        from pyspark import StorageLevel

        spark = docs.sparkSession
        fingerprint = hashlib.sha1(
            (
                docs._jdf.queryExecution().analyzed().toString()
                + f"|{id_col}|{text_col}"
            ).encode()
        ).hexdigest()[:12]
        vname = f"_schemamap_bm25_idx_{fingerprint}"
        bm25_index(docs, id_col, text_col).createOrReplaceTempView(vname)
        spark.table(vname).persist(StorageLevel.MEMORY_AND_DISK)
        sql = (
            "with stats as (\n"
            "  select count(1) as n,\n"
            f"         avg(case when `{text_col}` is not null\n"
            f"             then size(split(`{text_col}`, ' ')) end) as avgdl\n"
            "  from {docs}\n"
            "),\n"
            + _bm25_scoring_tail_sql(
                vname, k, k1, b, max_df_ratio, query_id_col, query_text_col,
                ordered,
            )
        )
        return spark.sql(sql, docs=docs, queries=queries)
    # Caller-supplied index: the Column-chain formulation. A spark.sql
    # reference to a DataFrame goes through a generated temp view, and a
    # View-wrapped subtree does NOT match the caller's CacheManager entry
    # (measured on 4.1: a persisted frame referenced via {df} substitution
    # recomputes instead of hitting its InMemoryRelation) — the docstring
    # tells callers to persist their index, so this path must stay in
    # DataFrame land to honor that cache. It is also the SHORT path: no
    # index build, no docs aggregate — the per-op analysis tail the SQL
    # formulation removes barely exists here.
    from pyspark.sql import Window

    # index-derived stats (single-stats-source contract): N, avgdl from
    # the index itself (or the explicit n_docs override) so they can
    # never disagree with the postings being scored
    idx_stats = (
        index.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.count(F.lit(1)).alias("n_idx"), F.avg("dl").alias("avgdl"))
    )
    if n_docs is not None:
        stats_1row = idx_stats.select(
            F.lit(int(n_docs)).cast("long").alias("n"), "avgdl"
        )
    else:
        stats_1row = idx_stats.select(F.col("n_idx").alias("n"), "avgdl")
    q_terms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(F.array_distinct(F.split(F.col(query_text_col), " "))).alias(
                "term"
            ),
        )
        .distinct()
    )
    # per-term df over ONLY the query's terms (guide §3.2): broadcast
    # semi-join pre-filter instead of a vocab-wide aggregation
    df_map = (
        index.join(F.broadcast(q_terms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    if max_df_ratio is not None:
        # stop-term guard: N rides in via the same 1-row broadcast instead
        # of a separate eager docs.count() action
        df_map = (
            df_map.crossJoin(F.broadcast(stats_1row.select("n")))
            .filter(F.col("df") <= F.lit(max_df_ratio) * F.col("n"))
            .drop("n")
        )
    # idf and the length normalization mirror the DuckDB oracle term for
    # term — operand order matters for bit-equal doubles
    idf = F.log(
        (F.col("n").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / denom
    # the (query term × df) side is queries × terms rows — explicitly
    # broadcast so the posting-list side (the only corpus-scale frame
    # here) is probed in place and never shuffled by term (guide §3.1)
    scored = (
        index.join(F.broadcast(q_terms.join(df_map, "term")), "term")
        .crossJoin(F.broadcast(stats_1row))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.round(contrib * 1e6).cast("bigint")).alias("score_micros"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micros"), F.col("doc_id")
    )
    # rank computed in the same projection as the output columns (one
    # analyzer pass fewer than withColumn → filter → select; the rank
    # filter still pushes below the projection into WindowGroupLimit)
    out = scored.select(
        "query_id",
        "doc_id",
        "score_micros",
        F.row_number().over(w).cast("int").alias("rank"),
    ).filter(F.col("rank") <= k)
    return out.orderBy("query_id", "rank") if ordered else out


def _bm25_scoring_tail_sql(
    index_ref: str,
    k: int,
    k1: float,
    b: float,
    max_df_ratio: float | None,
    query_id_col: str,
    query_text_col: str,
    ordered: bool,
) -> str:
    """The qt/dfm/scored/ranked CTEs + final select of the one-shot BM25
    SQL, over an index relation named `index_ref` and a `stats` CTE
    (n, avgdl) assumed already defined. Kept separate so the fragment is
    reusable and the owns-index assembly above stays readable."""
    if max_df_ratio is not None:
        # stop-term guard: N rides in via the same 1-row broadcast
        # instead of a separate eager docs.count() action
        dfm_sql = (
            "dfm0 as (\n"
            "  select /*+ BROADCAST(t) */ term, count(1) as df\n"
            f"  from {index_ref} join (select distinct term from qt) as t"
            " using (term)\n"
            "  group by term\n"
            "),\n"
            "dfm as (\n"
            "  select /*+ BROADCAST(s) */ term, df\n"
            "  from dfm0 cross join (select n from stats) as s\n"
            f"  where df <= {_dlit(max_df_ratio)} * n\n"
            ")"
        )
    else:
        dfm_sql = (
            "dfm as (\n"
            "  select /*+ BROADCAST(t) */ term, count(1) as df\n"
            f"  from {index_ref} join (select distinct term from qt) as t"
            " using (term)\n"
            "  group by term\n"
            ")"
        )
    contrib = (
        f"ln((cast(st.n as double) - qd.df + 0.5D) / (qd.df + 0.5D) + 1.0D)"
        f" * (cast(i.tf as double) * {_dlit(k1 + 1.0)})"
        f" / (i.tf + {_dlit(k1)} * (1.0D - {_dlit(b)}"
        f" + {_dlit(b)} * i.dl / st.avgdl))"
    )
    return (
        "qt as (\n"
        "  select distinct query_id, term from (\n"
        f"    select `{query_id_col}` as query_id,\n"
        f"           explode(array_distinct(split(`{query_text_col}`, ' ')))"
        " as term\n"
        "    from {queries}\n"
        "  )\n"
        "),\n"
        f"{dfm_sql},\n"
        "qd as (\n"
        "  select q.query_id, q.term, d.df from qt as q join dfm as d"
        " using (term)\n"
        "),\n"
        "scored as (\n"
        "  select /*+ BROADCAST(qd, st) */ qd.query_id, i.doc_id,\n"
        f"         sum(cast(round({contrib} * 1000000.0D) as bigint))"
        " as score_micros\n"
        f"  from {index_ref} as i join qd using (term) cross join stats"
        " as st\n"
        "  group by qd.query_id, i.doc_id\n"
        "),\n"
        "ranked as (\n"
        "  select query_id, doc_id, score_micros,\n"
        "         cast(row_number() over (\n"
        "           partition by query_id order by score_micros desc, doc_id\n"
        "         ) as int) as rank\n"
        "  from scored\n"
        ")\n"
        "select query_id, doc_id, score_micros, rank from ranked\n"
        f"where rank <= {int(k)}"
        + ("\norder by query_id, rank" if ordered else "")
    )


def hybrid_rerank_topk(
    rankings: list[DataFrame],
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Hybrid retrieval the recall-first way: UNION the candidate sets of
    any number of retrievers (bm25_topk, ann_index_search, lsh_topk, ...)
    and re-rank the union with the EXACT cosine against the query vectors —
    (query_id, doc_id, rank, cosine_sim round6).

    `exclude_self=True` (default) drops candidates where doc_id ==
    query_id — the cosine_topk "self excluded" contract, correct when
    queries are drawn from the corpus (the usual dedup/eval setup). When
    query ids live in a SEPARATE id space, a coincidental id collision
    would silently remove a legitimate document — pass
    `exclude_self=False` there. Zero, NaN and ±Inf vectors, query or
    document, are never ranked (similarity's `_finite_nonzero` contract).

    Candidate-union + exact rerank is monotone where rank fusion is not:
    adding a retriever can only grow the candidate pool, so recall@k never
    drops — whereas RRF's rank arithmetic lets a weak system dilute a
    strong one (measured on the clustered fixture: equal-weight RRF of a
    0.71-recall dense and a 0.21-recall lexical system fuses DOWN to 0.54,
    while the union+rerank of the same two systems reaches 0.72 against
    0.57/0.34 single-system reranks — SCALE.md 'Hybrid retrieval').

    Scale shape: inputs are already top-k-bounded per (system, query), so
    the union is slim (query, doc) rows — systems × queries × depth, never
    corpus-sized. The whole candidate side (ids + their query vectors) is
    explicitly BROADCAST into the corpus scan — without the hint Spark's
    stats pick the corpus as the build side at small scale, which
    inverts into a full corpus-vector shuffle (or OOM broadcast) at real
    scale. The corpus is therefore never shuffled OR broadcast: one scan,
    hash-probe per row. Candidate-side size is bounded by the same
    bounded-queries contract as cosine_topk (queries × systems × depth
    rows, each carrying one query vector).

    Deliberately NOT the one-shot spark.sql formulation bm25_topk's
    owns-index path uses (r19): rankings here are routinely persisted
    Window-over-MapInPandas plans (ann_index_search output — the
    documented usage), and substituting that shape into spark.sql via
    {df} view-wrapping crashes plan canonicalization at action time
    whenever the session cache is non-empty (measured on 4.1:
    java.util.NoSuchElementException "key not found: query_id#...", from
    CacheManager.lookupCachedData canonicalizing the view-wrapped
    subtree). The Column chain analyzes the same tree shape without the
    View wrapper and is immune; the ~10 eager per-op analyzer passes it
    pays were measured at ~0.05 s on the bench corpus — not worth an
    input-dependent crash."""
    from schemamap_spark.operators.similarity import _side, rank_topk, rerank_sim

    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    slim = [
        r.select(
            F.col(query_col).alias("query_id"), F.col(doc_col).alias("doc_id")
        )
        for r in rankings
    ]
    cands = slim[0]
    for r in slim[1:]:
        cands = cands.unionByName(r)
    if exclude_self:
        # self-exclusion references only candidate columns, so it commutes
        # with the distinct and both joins — applied HERE it filters the
        # slim (query, doc) union instead of the corpus-joined tree, and
        # costs one eager analyzer pass over a ~10-node subtree instead of
        # the ~100-node full plan (PySpark analyzes per op; the rerank
        # chain was the largest single build term of the hybrid bench
        # query, r19 build profile — guide §1.2 driver work)
        cands = cands.filter(F.col("query_id") != F.col("doc_id"))
    qv = _side(
        queries, query_col if query_col in queries.columns else id_col, vec_col,
        "query_id", "q_vec", "q_nrm",
    )
    cv = corpus.select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("c_vec")
    )
    cand_q = cands.distinct().join(F.broadcast(qv), "query_id")
    return rank_topk(
        rerank_sim(cv.join(F.broadcast(cand_q), "doc_id"), "doc_id"), k, "doc_id"
    )


def rrf_fuse(
    rankings: list[DataFrame],
    rrf_k: int = 60,
    top: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    weights: list[float] | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., public method) — the standard
    hybrid-retrieval combiner: fuse any number of (query_id, doc_id, rank)
    frames (bm25_topk, cosine_topk/ann_index_search, ...) by

        score(q, d) = sum_systems w_s / (rrf_k + rank_s(q, d))

    Rank-based, so the systems' score scales never need calibrating — the
    reason RRF is the default for BM25 + dense fusion. Documents absent
    from a system contribute nothing (no penalty). Per-system contributions
    round to integer micros before the sum (the engine's usual
    order-independence pattern), ties break on doc id.

    `weights` (parallel to `rankings`, default all-1.0) down-weights a
    system known to be weaker — the knob behind SCALE.md's 'Hybrid
    retrieval' sweep. Use it when the systems are comparably strong but
    not equal; when one system is categorically weaker, prefer
    hybrid_rerank_topk (rank fusion lets a noisy ranking perturb a strong
    one — measured there). weight 0 removes a system's influence exactly
    (its contributions round to 0 micros but its docs still appear in
    n_systems and can surface with zero score).

    Scale: a union of slim (query, doc, rank) rows + one groupBy — input
    sizes are already top-k-bounded per system, so this is dashboard-cheap
    at any corpus size."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rankings must be non-empty")
    if top < 1:
        raise ValueError(f"top must be >= 1, got {top}")
    if weights is not None:
        if len(weights) != len(rankings):
            raise ValueError(
                f"weights must parallel rankings: {len(weights)} != {len(rankings)}"
            )
        if any(w < 0 for w in weights):
            raise ValueError("weights must be non-negative")
    ws = weights if weights is not None else [1.0] * len(rankings)
    slim = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.col(rank_col).alias("rank"),
            F.lit(float(w)).alias("__w"),
        )
        for r, w in zip(rankings, ws)
    ]
    unioned = slim[0]
    for r in slim[1:]:
        unioned = unioned.unionByName(r)
    contrib = F.round(
        F.col("__w") * F.lit(1e6) / (F.lit(rrf_k) + F.col("rank").cast("double"))
    ).cast("bigint")
    fused = unioned.groupBy("query_id", "doc_id").agg(
        F.sum(contrib).alias("rrf_micros"),
        F.count(F.lit(1)).alias("n_systems"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_micros"), "doc_id")
    # same one-projection rank fusion as bm25_topk/cosine_topk (one
    # analyzer pass fewer; WindowGroupLimit unaffected)
    return (
        fused.select(
            "query_id",
            "doc_id",
            "rrf_micros",
            "n_systems",
            F.row_number().over(w).cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= top)
        .orderBy("query_id", "rank")
    )


def retrieval_eval(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query retrieval metrics — the measurement half of the retrieval
    family: evaluate any (query_id, doc_id, rank) result frame (bm25_topk,
    cosine_topk, ann_index_search, hybrid_rerank_topk, rrf_fuse output)
    against graded judgments (query_id, doc_id, rel; rel > 0 = relevant).

    Output one row per JUDGED query (queries with no results still report,
    with zero hits — the standard eval convention, and the failure mode
    you most want visible):
      (query_id, n_rel, hits_at_k, recall_at_k, mrr_micros, ndcg_micros)

    - recall_at_k = relevant retrieved in top-k / min(n_rel, k) (the
      'capped' recall, so a perfect top-k scores 1.0 even when n_rel > k)
    - mrr_micros  = round(1e6 / rank of the first relevant hit), 0 if none
    - ndcg_micros = round(1e6 * DCG@k / IDCG@k), graded, burges-style
      gains (2^rel - 1), log2 discounts; micro-rounded per-position
      contributions integer-sum on both sides of the ratio, so the value
      is partition-order-independent and replays exactly in the DuckDB
      oracle (suite/extra.py `retrieval_eval`).

    Scale: results are top-k-bounded per query and qrels are judgment-
    sized; everything shuffles on query_id only — dashboard-cheap next to
    the retrievers it measures. Duplicate (query, doc) result rows raise
    upstream design questions but are tolerated here (first rank wins)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    r = (
        results.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.col(rank_col).alias("rank"),
        )
        .filter(F.col("rank") <= k)
        .groupBy("query_id", "doc_id")
        .agg(F.min("rank").alias("rank"))
    )
    # The judgments feed THREE consumers (the hits join, the ideal-DCG
    # ranking, the n_rel count). Unpersisted, Spark re-runs the qrels plan
    # once per consumer — harmless for a hand-labeled file, a triple
    # corpus scan when qrels are DERIVED (e.g. exact top-k over the
    # corpus, the retrieval_eval extras row's shape). Same rule as
    # bm25_topk's index; the cache lives with the returned plan.
    from pyspark import StorageLevel

    j = (
        qrels.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.col(rel_col).cast("int").alias("rel"),
        )
        .filter(F.col("rel") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    gain = F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0)
    # per-position DCG contribution, micro-rounded BEFORE the sum — the
    # order-independence pattern shared with bm25/rrf/perplexity
    dcg_c = F.round(gain / F.log2(F.col("rank") + F.lit(1.0)) * 1e6).cast("bigint")
    hits = j.join(r, ["query_id", "doc_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("hits_at_k"),
        F.min("rank").alias("first_rel_rank"),
        F.sum(dcg_c).alias("dcg_micros"),
    )
    # ideal DCG: the query's own judgments, best-first, cut at k
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "doc_id")
    ideal = (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .groupBy("query_id")
        .agg(F.sum(dcg_c).alias("idcg_micros"))
    )
    n_rel = j.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    return (
        n_rel.join(ideal, "query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce(F.col("hits_at_k"), F.lit(0)).cast("int").alias("hits_at_k"),
            F.round(
                F.coalesce(F.col("hits_at_k"), F.lit(0))
                / F.least(F.col("n_rel"), F.lit(k)),
                6,
            ).alias("recall_at_k"),
            F.coalesce(
                F.round(F.lit(1e6) / F.col("first_rel_rank")).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("mrr_micros"),
            F.coalesce(
                F.round(
                    F.col("dcg_micros").cast("double")
                    / F.col("idcg_micros").cast("double")
                    * 1e6
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("ndcg_micros"),
        )
        .orderBy("query_id")
    )
