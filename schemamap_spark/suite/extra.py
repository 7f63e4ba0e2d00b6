"""Parity-only registry: value-checked queries that do NOT ride the driver's
50-slot correctness gate.

The driver caps queries() at 50 entries, so coverage that outgrows the cap
lands here instead of silently losing its oracle: tools/parity.py and
tests/test_oracle_parity.py run these exactly like driver entries (rows +
schema + order-insensitive value hash vs DuckDB).

Entry families (each function's docstring carries its own contract):
- demoted driver rows keeping their full value-check (q04_left_join,
  q33_cube);
- incremental / storeful twins (incremental_dedup, scd2_merge, scd2_as_of,
  corpus_stats);
- training-data ops beyond the driver cap (semantic_dedup, mixture_sample,
  sample_per_source, sample_exact_n, fuzzy_match, perplexity, key_skew,
  line_dedup, interval_join, profile, quantize, matryoshka, contamination,
  chunk_documents, pii_redact, normalize_text);
- the retrieval family end to end (bm25, rrf_hybrid, hybrid_rerank,
  retrieval_eval);
- committed-golden rows where Spark hashing has no portable SQL twin
  (containment — winnowing fingerprints, sf0.01-guarded like the
  SimHash/LSH goldens in suite/llm.py).

Portability conventions are the suite-wide ones (ROUND_NOTES traps):
integer micro-sums for order-independence, round(…, 6) ratios, outer
bigint casts on aggregate sums, explicit total orders at every top-k cut.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR
from schemamap_spark.session import load_table
from schemamap_spark.suite.relational import (
    Q04_LEFT_JOIN_ORACLE,
    Q33_CUBE_ORACLE,
    q04_left_join,
    q33_cube,
)

FIX = DEFAULT_FIXTURE_DIR


def incremental_dedup(spark, sf):
    """Split documents into two deterministic batches (doc_id parity); batch
    2 dedups against batch 1's fingerprint store without re-reading batch
    1's text. Output: batch 2's surviving (doc_id, fingerprint) rows — one
    min-id representative per digest, minus anything already in the store."""
    from schemamap_spark.operators.dedup import incremental_exact_dedup

    docs = load_table(spark, sf, "documents")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    _, store1 = incremental_exact_dedup(b1)
    fresh2, _ = incremental_exact_dedup(b2, store1)
    return fresh2.select("doc_id", "fingerprint").orderBy("doc_id")


def semantic_dedup_q(spark, sf):
    """Semantic dedup over the embeddings table at the same 0.45 threshold
    dedup_embedding_cosine uses: survivors = everything minus the non-min
    members of each near-duplicate component."""
    from schemamap_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf, "embeddings")
    return semantic_dedup(emb, threshold=0.45).select("vec_id").orderBy("vec_id")


_MIX = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_BUDGET = 1500


def mixture_sample_q(spark, sf):
    """Token-budgeted mixture over three sources (others dropped). The plan
    (per-source totals → fractions → floor'd per-mille cutoffs → Knuth-bucket
    row picks) is deterministic and engine-portable end to end."""
    from schemamap_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf, "documents")
    return (
        mixture_sample(docs, dict(_MIX), _MIX_BUDGET)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def fuzzy_match_q(spark, sf):
    """Import-time MDM matching over the fixture app: staged organization
    rows (whitespace-padded names, a few corrupted) fuzzy-match the master
    organizations table at 0.9 char-3-gram Jaccard, best match per staged
    row. sf-independent (fixture tables), like the catalog suite's rows."""
    from schemamap_spark.operators.matching import fuzzy_match

    staging = spark.read.parquet(f"{FIX}/staging_organizations_csv.parquet")
    master = spark.read.parquet(f"{FIX}/organizations.parquet")
    return fuzzy_match(
        staging, master, threshold=0.9, left_text="name", right_text="name", top=1
    )


def perplexity_q(spark, sf):
    """CCNet-style bigram-LM perplexity over documents, self-trained on the
    same corpus. Value-checked via the ORDER-INDEPENDENT integer-micros sum
    (per-bigram log-probs rounded to micro-nats then integer-summed — float
    avg→exp is partition-order-dependent in the last ulps, integer sums are
    not); the DuckDB twin replays counts, add-k smoothing, and both unseen
    fallbacks exactly."""
    from schemamap_spark.operators.ngrams import bigram_lm_train, perplexity_score

    docs = load_table(spark, sf, "documents")
    lm, denom, vocab = bigram_lm_train(docs, k=0.1)
    return (
        perplexity_score(docs, lm, denom, vocab, k=0.1)
        .select("doc_id", "n_bigrams", "lp_micros")
        .orderBy("doc_id")
    )


_DSIR_TARGET = ("src0", "src1")
_DSIR_BUCKETS = 8192
_DSIR_ALPHA = 0.01
_DSIR_N = 100


def dsir_select_q(spark, sf):
    """DSIR data selection (Xie et al. 2023): the 100 candidate documents
    (sources outside src0/src1) whose hashed unigram+bigram distribution is
    most target-like, target = the src0/src1 documents. Portable md5-bucket
    features + integer-micros weights make the whole plan engine-replayable;
    the DuckDB twin recomputes features, both smoothed models, the weights,
    and the deterministic (lw desc, doc_id) top-k."""
    from schemamap_spark.operators.dsir import dsir_select

    docs = load_table(spark, sf, "documents")
    targ = docs.filter(F.col("source").isin(*_DSIR_TARGET))
    cand = docs.filter(~F.col("source").isin(*_DSIR_TARGET))
    return dsir_select(
        cand, targ, _DSIR_N, buckets=_DSIR_BUCKETS, alpha=_DSIR_ALPHA
    )


_SCD2_T0 = "2024-01-01 00:00:00"
_SCD2_T1 = "2024-02-01 00:00:00"


def scd2_merge_q(spark, sf):
    """SCD2 dimension maintenance over customer: bootstrap at T0, then apply
    a deterministic snapshot (every custkey % 3 == 0 gains 10 to acctbal;
    every custkey % 100 == 0 also appears as a brand-new key+1000000 row) at
    T1. Output: the full versioned dimension — closed rows, new versions,
    inserts, untouched keys. The DuckDB twin replays the merge as unions."""
    from schemamap_spark.sources.merge import scd2_init, scd2_merge

    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    dim = scd2_init(cust, _SCD2_T0)
    changed = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 10).otherwise(
            F.col("c_acctbal")
        ),
    )
    new_rows = (
        cust.filter(F.col("c_custkey") % 100 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
            "c_acctbal",
            "c_mktsegment",
        )
    )
    out = scd2_merge(dim, changed.unionByName(new_rows), ["c_custkey"], _SCD2_T1)
    return out.orderBy("c_custkey", "valid_from")


def interval_join_q(spark, sf):
    """Batch face of the stream-stream interval join (click -> purchase per
    user within 1 hour) — the SAME operator the streaming pipeline runs
    (streaming/pipeline.interval_join_streams), value-checked here against a
    DuckDB theta-join replay. Timestamps go out as epoch bigints (the
    events-suite convention for hash-stable cross-engine timestamps)."""
    from schemamap_spark.streaming.pipeline import interval_join_streams

    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    j = interval_join_streams(clicks, purchases, horizon_seconds=3600)
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        F.col("event_id_right").alias("purchase_event_id"),
        F.unix_timestamp("ts_right").alias("purchase_epoch"),
    ).orderBy("event_id", "purchase_event_id")


def sample_per_source_q(spark, sf):
    """Deterministic fixed-N-per-group sampling: 5 documents per source by
    lowest Knuth hash (ties by id) — the eval-set construction shape. The
    DuckDB twin replays hash, rank, and pick exactly."""
    from schemamap_spark.operators.sampling import sample_n_per_group

    docs = load_table(spark, sf, "documents")
    return (
        sample_n_per_group(docs, "source", 5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def key_skew_q(spark, sf):
    """Join-key skew diagnostic over orders.o_custkey: top-10 hottest keys
    with share and skew factor — the pre-join report that decides between a
    plain shuffled join and salted_join."""
    from schemamap_spark.operators.skew import key_skew_report

    orders = load_table(spark, sf, "orders")
    return key_skew_report(orders, "o_custkey", top=10)


def line_dedup_q(spark, sf):
    """Cross-document line dedup over documents (single-line fixture docs:
    the df guard fires on full-text duplicates, all-boilerplate docs come
    back empty). The DuckDB twin replays normalization, the strict-greater
    df rule, and the empty-line exemption."""
    from schemamap_spark.operators.dedup import drop_repeated_lines

    docs = load_table(spark, sf, "documents")
    return drop_repeated_lines(docs, max_doc_freq=2).orderBy("doc_id")


def scd2_as_of_q(spark, sf):
    """Time-travel read of the scd2_merge_q dimension as of a point between
    the two effective timestamps: every key shows its T0 version (changed
    keys' new versions and the inserted keys are invisible)."""
    from schemamap_spark.sources.merge import scd2_as_of

    return scd2_as_of(scd2_merge_q(spark, sf), "2024-01-15 00:00:00").orderBy(
        "c_custkey"
    )


_PROFILE_COLS = ["c_custkey", "c_name", "c_mktsegment", "c_nationkey"]


def profile_q(spark, sf):
    """One-pass column profile of customer over its string/int columns (the
    engine-portable slice: double min/max render differently across engines,
    and approx_ndv is a sketch — both excluded from the value check by
    projection, exercised by pytest instead)."""
    from schemamap_spark.operators.profile import profile_table

    cust = load_table(spark, sf, "customer")
    return profile_table(cust, _PROFILE_COLS).select(
        "column", "n_rows", "n_nulls", "null_ratio", "min_value", "max_value"
    )


_BM25_QUERY_DOCS = (1, 3, 5)

# shared CTE block: the inverted index, corpus stats, per-term df, the
# three query docs' distinct terms, and the per-(query, doc) integer
# micro-scores — mirrors operators/retrieval.py term for term (operand
# order matters for bit-equal doubles). Consumed by both the bm25 oracle
# and the rrf_hybrid oracle's lexical half.
_BM25_CTES = """idx as (
          select doc_id, term, count(*) as tf, any_value(dl) as dl from (
            select doc_id, len(toks) as dl, unnest(toks) as term
            from (select doc_id, string_split(text, ' ') as toks from documents)
          ) group by doc_id, term
        ),
        stats as (
          select (select cast(count(*) as double) from documents) as n,
                 (select avg(dl) from
                    (select any_value(dl) as dl from idx group by doc_id)) as avgdl
        ),
        dfm as (select term, count(*) as df from idx group by 1),
        qt as (
          select doc_id as query_id, unnest(list_distinct(string_split(text, ' ')))
                   as term
          from documents where doc_id in (1, 3, 5)
        ),
        scored as (
          select q.query_id, i.doc_id,
                 cast(sum(cast(round(
                   ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * (i.tf * 2.2)
                   / (i.tf + 1.2 * (1.0 - 0.75 + 0.75 * i.dl / s.avgdl))
                   * 1000000) as bigint)) as bigint) as score_micros
          from qt q
          join dfm d using (term)
          join idx i using (term)
          cross join stats s
          group by 1, 2
        )"""


def bm25_q(spark, sf):
    """BM25 retrieval over documents: three documents' own texts as
    queries, top-5 per query. (On this shared-vocabulary fixture rank 1 is
    decided by tf/length patterns, not necessarily the query doc itself —
    self-retrieval-at-1 is pinned by pytest on a distinct-vocab corpus.)
    Integer micro-scores make the ranking order-independent; the DuckDB
    twin replays index, idf, length normalization, and the
    (score desc, doc_id) cut exactly."""
    from schemamap_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf, "documents")
    queries = docs.filter(F.col("doc_id").isin(*_BM25_QUERY_DOCS)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_topk(docs, queries, k=5)


def rrf_hybrid_q(spark, sf):
    """End-to-end hybrid retrieval: BM25 over documents' text and exact
    cosine top-k over the embeddings corpus, fused by Reciprocal Rank
    Fusion — the standard lexical+dense combiner. Three query ids drive
    both systems (their text on the lexical side, their vector on the
    dense side); each contributes its (query_id, doc_id, rank) top-5, RRF
    re-ranks by sum(1/(60+rank)) in integer micros. The whole composition
    — both retrievers AND the fusion — replays in DuckDB."""
    from schemamap_spark.operators.retrieval import bm25_topk, rrf_fuse
    from schemamap_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    q_text = docs.filter(F.col("doc_id").isin(*_BM25_QUERY_DOCS)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    # ordered=False: rrf_fuse consumes (query, doc, rank) as a SET — the
    # retrievers' own output orderBys would each add a range Exchange the
    # fusion aggregate immediately destroys (same rows/ranks either way)
    lex = bm25_topk(docs, q_text, k=5, ordered=False)
    q_vec = emb.filter(F.col("vec_id").isin(*_BM25_QUERY_DOCS))
    dense = cosine_topk(emb, q_vec, k=5, ordered=False).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, dense], rrf_k=60, top=10)


def hybrid_rerank_q(spark, sf):
    """The recall-first hybrid combiner (SCALE.md 'Hybrid retrieval'):
    UNION the BM25 and dense candidate sets and re-rank the union with the
    EXACT cosine — monotone in retrievers where RRF is not. Same two
    systems as rrf_hybrid; the oracle replays candidate generation, the
    distinct union, the exact-cosine rerank, and the (sim desc, doc_id)
    cut. Inner-joining the corpus drops lexical candidates with no vector
    (none at this sf — ids are shared — but the contract is pinned)."""
    from schemamap_spark.operators.retrieval import bm25_topk, hybrid_rerank_topk
    from schemamap_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    q_text = docs.filter(F.col("doc_id").isin(*_BM25_QUERY_DOCS)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    # ordered=False: the rerank consumes candidates as a SET (distinct
    # union) — the retrievers' own orderBys are range Exchanges it
    # immediately destroys (same rows/ranks either way)
    lex = bm25_topk(docs, q_text, k=5, ordered=False)
    q_vec = emb.filter(F.col("vec_id").isin(*_BM25_QUERY_DOCS))
    dense = cosine_topk(emb, q_vec, k=5, ordered=False).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return hybrid_rerank_topk([lex, dense], emb, q_vec, k=5)


def matryoshka_q(spark, sf):
    """Matryoshka truncation to 32 dims with L2 renormalization,
    value-checked element-wise: both engines fold the prefix dot product
    sequentially in array order (Spark aggregate, DuckDB list_dot_product),
    so the norm — and every renormalized element — is bit-identical before
    the round-6 output. Zero-norm prefixes pass through unnormalized in
    both (the operator's documented contract)."""
    from schemamap_spark.operators.embeddings import truncate_embeddings

    emb = load_table(spark, sf, "embeddings")
    out = truncate_embeddings(emb, 32)
    return out.select(
        "vec_id",
        F.transform(
            F.col("embedding_trunc"), lambda x: F.round(x, 6)
        ).alias("vec32"),
    ).orderBy("vec_id")


def quantize_q(spark, sf):
    """Symmetric int8 quantization of the embeddings table, value-checked
    element-wise: per-row scale = max|x|/127, q[i] = round(x[i]/scale).
    Both engines compute the unrounded scale bit-identically (list-max +
    one divide), so the code arrays match exactly; the output scale is
    round-9 for hash stability and codes go out as array<int> (tinyint
    survives, but int keeps the pandas dtype identical across engines)."""
    from schemamap_spark.operators.embeddings import quantize_embeddings

    emb = load_table(spark, sf, "embeddings")
    out = quantize_embeddings(emb)
    return out.select(
        "vec_id",
        F.round("qscale", 9).alias("qscale"),
        F.transform(F.col("qvec"), lambda x: x.cast("int")).alias("qvec"),
    ).orderBy("vec_id")


def normalize_text_q(spark, sf):
    """normalize_text value-checked across regex engines: byte noise
    (control chars, zero-width marks, tab runs, 4-newline paragraph gaps)
    is injected identically in both engines around the corpus text, then
    the whole regexp_replace chain replays in DuckDB with the SQL
    GENERATED from the same _CONTROL_CHARS/_ZERO_WIDTH constants Spark
    compiles (suite/extra._normalize_oracle_sql). clean_html stays
    pytest-only: its script/style pattern needs a backreference, which
    RE2 cannot express."""
    from schemamap_spark.functions.text import normalize_text
    from schemamap_spark.session import spread_by_range

    # range-partitioned below the regex chain, so the orderBy's sampler
    # does not run the chain a second time (session.spread_by_range)
    docs = spread_by_range(load_table(spark, sf, "documents"), "doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.lit(" \t\t"),
            F.col("text"),
            F.lit("\x07\x1f\u200b\n\n\n\nend  "),
        ).alias("text"),
    )
    return injected.select(
        "doc_id", normalize_text().alias("normalized")
    ).orderBy("doc_id")


def _normalize_oracle_sql() -> str:
    from schemamap_spark.functions.text import _CONTROL_CHARS, _ZERO_WIDTH

    inj = ("' ' || chr(9) || chr(9) || text || chr(7) || chr(31) || "
           "chr(8203) || repeat(chr(10), 4) || 'end  '")
    expr = f"({inj})"
    for pat, rep in [
        (_CONTROL_CHARS, ""),
        (_ZERO_WIDTH, ""),
        ("[ \t]+", " "),
        (" ?\n ?", "\n"),
        ("\n{3,}", "\n\n"),
    ]:
        sql_pat = pat.replace("'", "''")
        sql_rep = rep.replace("\n", "' || chr(10) || '")
        expr = (f"regexp_replace({expr}, '{sql_pat}', "
                f"'{sql_rep}', 'g')")
    return (f"select doc_id, trim({expr}) as normalized "
            "from documents order by doc_id")


def pii_redact_q(spark, sf):
    """PII redaction + hit counting, value-checked across engines: PII is
    INJECTED deterministically (same concat in both engines — the corpus
    itself is clean, so the injection IS the test surface), then redacted
    through the shared PII_PATTERNS in declaration order. The oracle SQL is
    GENERATED from the same pattern list (suite/extra._pii_oracle_sql), so
    the two sides cannot drift; patterns are lookaround-free by contract
    (functions/text.py) precisely so Java regex and RE2 agree."""
    from schemamap_spark.functions.text import pii_hit_count, redact_pii
    from schemamap_spark.session import spread_by_range

    # range-partitioned below the regex chain (see normalize_text_q)
    docs = spread_by_range(load_table(spark, sf, "documents"), "doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call (555) 123-4567 or 192.168.0."),
            F.pmod(F.col("doc_id"), F.lit(255)).cast("string"),
        ).alias("text"),
    )
    return injected.select(
        "doc_id",
        pii_hit_count().alias("n_pii"),
        redact_pii().alias("redacted"),
    ).orderBy("doc_id")


def _pii_oracle_sql() -> str:
    """Generate the DuckDB twin from the SAME pattern list redact_pii
    walks, chaining per-pattern count-then-replace exactly like
    pii_hit_count's progressive redaction."""
    from schemamap_spark.functions.text import PII_PATTERNS

    ctes = ["r0 as (select doc_id, text || ' contact user' || cast(doc_id as varchar)"
            " || '@example.com call (555) 123-4567 or 192.168.0.'"
            " || cast(doc_id % 255 as varchar) as t from documents)"]
    for i, (kind, pattern) in enumerate(PII_PATTERNS, start=1):
        pat = pattern.replace("'", "''")
        ctes.append(
            f"r{i} as (select doc_id, regexp_replace(t, '{pat}', "
            f"'[{kind.upper()}]', 'g') as t, "
            + (f"n + len(regexp_extract_all(t, '{pat}')) as n"
               if i > 1 else f"len(regexp_extract_all(t, '{pat}')) as n")
            + f" from r{i - 1})"
        )
    last = f"r{len(PII_PATTERNS)}"
    return (
        "with " + ", ".join(ctes)
        + f" select doc_id, cast(n as int) as n_pii, t as redacted from {last}"
        " order by doc_id"
    )


def chunk_documents_q(spark, sf):
    """Overlapping token-window chunking (the pre-embedding step),
    value-checked per chunk: stride = 40 - 8 = 32, last chunk short, docs
    at or under the window emit exactly one chunk. The oracle replays the
    ceil-based chunk count, the slice boundaries, and the re-join."""
    from schemamap_spark.operators.packing import chunk_documents

    docs = load_table(spark, sf, "documents")
    return chunk_documents(docs, chunk_tokens=40, overlap=8).orderBy(
        "doc_id", "chunk_no"
    )


def sample_exact_n_q(spark, sf):
    """Exact-N deterministic global sample (eval-set primitive): the 120
    smallest documents under the portable md5 hash of the id string, ties
    by id. The oracle replays hash, tie order, and cut exactly — and the
    nesting property (m <= n -> subset) is pinned in test_sampling."""
    from schemamap_spark.operators.sampling import sample_exact_n

    docs = load_table(spark, sf, "documents")
    return sample_exact_n(docs, 120).select("doc_id").orderBy("doc_id")


def corpus_stats_q(spark, sf):
    """The incremental corpus-stats SCALARS, value-checked: per-source doc/
    quality-doc counts, exact token/char sums, and the order-independent
    integer micro-sum of quality — every additive piece of
    corpus_stats_partials except the (engine-specific binary) HLL sketch.
    This is the frame the no-rescan dashboard merges, so pinning it pins
    the incremental path's arithmetic, not just its batch==merged pytest."""
    from schemamap_spark.operators.curation import corpus_stats_partials

    docs = load_table(spark, sf, "documents")
    scalars, _ = corpus_stats_partials(docs, "b0")
    return scalars.select(
        "group", "docs", "q_docs", "tokens", "chars", "q_micros"
    ).orderBy("group")


def containment_q(spark, sf):
    """Asymmetric containment over winnowing fingerprints, value-checked
    via the committed-golden pattern (the SimHash/LSH situation): the
    window-min selects by xxhash64 VALUE, so the fingerprint sets have no
    portable SQL twin — the engine's (doc_id, f) rows at sf0.01 are a
    committed fixture (tools/gen_winnow_golden.py), and the oracle
    recomputes sizes, the max_df stop-fingerprint filter, shared counts
    and the |FP_i∩FP_j|/|FP_i| ratio from the golden. The hash pins both
    the winnowing output and the containment arithmetic."""
    from schemamap_spark.operators.dedup import containment_pairs
    from schemamap_spark.suite.llm import _require_golden_sf

    _require_golden_sf(sf, "containment")
    docs = load_table(spark, sf, "documents")
    return containment_pairs(docs, threshold=0.5, k=3, w=4, max_df=50)


_BENCH_DOCS = (2, 4, 6)


def contamination_q(spark, sf):
    """Benchmark decontamination scan, value-checked: hashed 3-gram overlap
    of three 'benchmark' docs against the whole corpus (the 13-gram rule at
    a k dense enough to overlap on the fixture — 100 pairs at sf0.01), with
    the max_df stop-gram guard doing real work (common trigrams exceed the
    df cap). The oracle joins on the RAW gram strings where Spark
    joins on xxhash64 — identical counts absent a 64-bit collision between
    co-occurring grams, which is the operator's own correctness premise.
    Self-pairs (bench doc vs itself in the corpus) come back at
    contamination 1.0 — the built-in sanity anchor."""
    from schemamap_spark.operators.dedup import contamination_report

    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id").isin(*_BENCH_DOCS))
    return contamination_report(docs, bench, k=3, max_df=50).orderBy(
        "bench_id", "corpus_id"
    )


def retrieval_eval_q(spark, sf):
    """The measurement half of the retrieval family, value-checked end to
    end against GRADED qrels = exact cosine top-10 (rel = 11 - exact rank):
    per-(system, query) recall@5 / MRR / nDCG@5 for TWO systems —
    'hybrid' (hybrid_rerank_topk of BM25 + exact dense; saturates perfect
    by construction, the sanity anchor that a perfect system scores 1.0)
    and 'trunc32' (exact cosine over the raw 32-dim Matryoshka prefix; a
    genuinely lossy retriever, so its partial hits exercise the capped
    recall, the first-hit MRR, and the graded micro-rounded DCG arithmetic
    in the non-trivial regime). Every stage replays in DuckDB — prefix
    retrieval is a list slice, cosine is scale-invariant so the slice
    needs no renormalization."""
    from schemamap_spark.operators.retrieval import (
        bm25_topk,
        hybrid_rerank_topk,
        retrieval_eval,
    )
    from schemamap_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    q_text = docs.filter(F.col("doc_id").isin(*_BM25_QUERY_DOCS)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    # ordered=False throughout: every frame below feeds joins/aggregates
    # (candidate union, eval joins), never an order-sensitive consumer
    lex = bm25_topk(docs, q_text, k=5, ordered=False)
    q_vec = emb.filter(F.col("vec_id").isin(*_BM25_QUERY_DOCS))
    dense = cosine_topk(emb, q_vec, k=5, ordered=False).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    hybrid = hybrid_rerank_topk([lex, dense], emb, q_vec, k=5)

    emb_t = emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    trunc = cosine_topk(
        emb_t, emb_t.filter(F.col("vec_id").isin(*_BM25_QUERY_DOCS)), k=5,
        ordered=False,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")

    qrels = cosine_topk(emb, q_vec, k=10, ordered=False).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        (F.lit(11) - F.col("rank")).alias("rel"),
    )
    return (
        retrieval_eval(hybrid, qrels, k=5)
        .select(F.lit("hybrid").alias("system"), "*")
        .unionByName(
            retrieval_eval(trunc, qrels, k=5)
            .select(F.lit("trunc32").alias("system"), "*")
        )
        .orderBy("system", "query_id")
    )


def training_shards_q(spark, sf):
    """Training-shard export assignment (sources/shards.py): every document
    lands in a deterministic shard (Knuth multiplicative hash of doc_id,
    the sampling.py arithmetic) — the oracle recomputes the assignment and
    the per-shard row/char totals exactly, which pins both the hash
    portability and the balance the exporter's manifest reports."""
    from schemamap_spark.sources.shards import assign_shards

    docs = load_table(spark, sf, "documents")
    return (
        assign_shards(docs, 16)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("shard")
    )


EXTRA_SPARK_QUERIES = {
    "q33_cube": q33_cube,
    "incremental_dedup": incremental_dedup,
    "semantic_dedup": semantic_dedup_q,
    "mixture_sample": mixture_sample_q,
    "fuzzy_match": fuzzy_match_q,
    "perplexity": perplexity_q,
    # dsir_select was PROMOTED into the 50-slot driver registry in round 6
    # (suite/llm.py imports dsir_select_q + _DSIR_ORACLE from here); its
    # vacated slot is backfilled by q04_left_join, demoted from the driver
    # registry the same round (J2 left-join stays driver-proven via q22).
    "q04_left_join": q04_left_join,
    "scd2_merge": scd2_merge_q,
    "interval_join": interval_join_q,
    "sample_per_source": sample_per_source_q,
    "key_skew": key_skew_q,
    "line_dedup": line_dedup_q,
    "scd2_as_of": scd2_as_of_q,
    "profile": profile_q,
    "bm25": bm25_q,
    "rrf_hybrid": rrf_hybrid_q,
    "hybrid_rerank": hybrid_rerank_q,
    "retrieval_eval": retrieval_eval_q,
    "contamination": contamination_q,
    "containment": containment_q,
    "corpus_stats": corpus_stats_q,
    "normalize_text": normalize_text_q,
    "pii_redact": pii_redact_q,
    "chunk_documents": chunk_documents_q,
    "sample_exact_n": sample_exact_n_q,
    "quantize": quantize_q,
    "matryoshka": matryoshka_q,
    "training_shards": training_shards_q,
}

# replays scd2_merge as unions: unchanged keys stay open at T0; changed keys
# (custkey % 3 = 0 — the +10 always differs) close at T1 and reopen with the
# new balance; % 100 = 0 keys also insert as key+1000000 opens at T1
_SCD2_ORACLE = f"""
    with cust as (select c_custkey, c_name, c_acctbal, c_mktsegment from customer)
    select c_custkey, c_name, c_acctbal, c_mktsegment,
           timestamp '{_SCD2_T0}' as valid_from,
           cast(null as timestamp) as valid_to, true as is_current
    from cust where c_custkey % 3 <> 0
    union all
    select c_custkey, c_name, c_acctbal, c_mktsegment,
           timestamp '{_SCD2_T0}', timestamp '{_SCD2_T1}', false
    from cust where c_custkey % 3 = 0
    union all
    select c_custkey, c_name, c_acctbal + 10, c_mktsegment,
           timestamp '{_SCD2_T1}', cast(null as timestamp), true
    from cust where c_custkey % 3 = 0
    union all
    select c_custkey + 1000000, 'NEW ' || c_name, c_acctbal, c_mktsegment,
           timestamp '{_SCD2_T1}', cast(null as timestamp), true
    from cust where c_custkey % 100 = 0
    order by c_custkey, valid_from
"""

# mirrors operators/dsir.py term for term: same hash, same smoothing
# arithmetic (coalesce(count,0)+alpha over total+alpha*B), same
# (c * (lnA - lnB)) * 1e6 -> round -> bigint contribution order, same
# (lw desc, doc_id) top-k tie order
_DSIR_AB = repr(_DSIR_ALPHA * _DSIR_BUCKETS)
_DSIR_ORACLE = f"""
    with cand as (select doc_id, text from documents
                  where source not in ('src0', 'src1')),
    targ as (select doc_id, text from documents
             where source in ('src0', 'src1')),
    ctk as (select doc_id, string_split(text, ' ') as toks from cand),
    ttk as (select doc_id, string_split(text, ' ') as toks from targ),
    cgr as (
      select doc_id, g from (
        select doc_id, unnest(toks) as g from ctk
        union all
        select doc_id, toks[i] || ' ' || toks[i + 1] as g
        from ctk, unnest(range(1, len(toks))) as t(i) where len(toks) >= 2
      )
    ),
    tgr as (
      select doc_id, g from (
        select doc_id, unnest(toks) as g from ttk
        union all
        select doc_id, toks[i] || ' ' || toks[i + 1] as g
        from ttk, unnest(range(1, len(toks))) as t(i) where len(toks) >= 2
      )
    ),
    cb as (select doc_id,
                  ('0x' || substr(md5(g), 1, 8))::bigint % {_DSIR_BUCKETS} as b
           from cgr),
    tb as (select ('0x' || substr(md5(g), 1, 8))::bigint % {_DSIR_BUCKETS} as b
           from tgr),
    cdb as (select doc_id, b, count(*) as c from cb group by 1, 2),
    tct as (select b, count(*) as ct from tb group by 1),
    rcr as (select b, count(*) as cr from cb group by 1),
    tot as (select (select cast(count(*) as double) from tb) as tt,
                   (select cast(count(*) as double) from cb) as tr),
    lw as (
      select d.doc_id,
             cast(sum(cast(round(
               d.c * (ln((coalesce(t.ct, 0) + {_DSIR_ALPHA})
                           / (tot.tt + {_DSIR_AB}))
                      - ln((coalesce(r.cr, 0) + {_DSIR_ALPHA})
                           / (tot.tr + {_DSIR_AB})))
               * 1000000) as bigint)) as bigint) as lw_micros
      from cdb d
      left join tct t on t.b = d.b
      left join rcr r on r.b = d.b
      cross join tot
      group by 1
    )
    select doc_id, lw_micros,
           cast(row_number() over (order by lw_micros desc, doc_id) as int)
             as rank
    from lw
    order by lw_micros desc, doc_id
    limit {_DSIR_N}
"""

EXTRA_ORACLE_SQL = {
    "q33_cube": Q33_CUBE_ORACLE,
    "incremental_dedup": """
        with fp as (
          select doc_id, md5(lower(trim(text))) as fingerprint from documents
        ),
        b1 as (select * from fp where doc_id % 2 = 0),
        b2 as (select * from fp where doc_id % 2 = 1),
        reps as (select fingerprint, min(doc_id) as doc_id from b2 group by 1)
        select r.doc_id, r.fingerprint
        from reps r
        where not exists (select 1 from b1 where b1.fingerprint = r.fingerprint)
        order by r.doc_id
    """,
    "semantic_dedup": """
        with recursive
        e as (select vec_id, embedding::DOUBLE[] as v,
                     sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) as nrm
              from embeddings),
        simpairs as (
          select a.vec_id as i, b.vec_id as j
          from e a join e b on a.vec_id < b.vec_id
          where list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
        ),
        ed as (select i as a, j as b from simpairs union select j, i from simpairs),
        reach(a, b) as (
          select a, b from ed
          union
          select r.a, e2.b from reach r join ed e2 on r.b = e2.a
        ),
        groups as (select a as node, least(a, min(b)) as group_id from reach group by a),
        nonreps as (select node from groups where node <> group_id)
        select vec_id from e
        where vec_id not in (select node from nonreps)
        order by vec_id
    """,
    # brute-force twin of the prefix-filtered matcher: normalized char-3-gram
    # jaccard over the full staging x master cross join, best match per
    # staged row by (jaccard desc, master id)
    "fuzzy_match": f"""
        with norm_l as (
          select id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g') as s
          from read_parquet('{FIX}/staging_organizations_csv.parquet')
        ),
        norm_r as (
          select id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g') as s
          from read_parquet('{FIX}/organizations.parquet')
        ),
        gl as (select id, case when len(s) < 3 then [s]
                    else list_distinct(list_transform(range(1, len(s) - 1),
                                                      i -> substr(s, i, 3))) end as g
               from norm_l),
        gr as (select id, case when len(s) < 3 then [s]
                    else list_distinct(list_transform(range(1, len(s) - 1),
                                                      i -> substr(s, i, 3))) end as g
               from norm_r),
        scored as (
          select l.id as id_left, r.id as id_right,
                 len(list_intersect(l.g, r.g)) * 1.0
                   / (len(l.g) + len(r.g) - len(list_intersect(l.g, r.g))) as jac
          from gl l cross join gr r
        ),
        ranked as (
          select id_left, id_right, jac,
                 row_number() over (partition by id_left
                                    order by jac desc, id_right) as rank
          from scored where jac >= 0.9
        )
        select id_left, id_right, round(jac, 6) as jaccard, cast(rank as int) as rank
        from ranked where rank <= 1 order by id_left, rank
    """,
    # replays bigram_lm_train + perplexity_score exactly: unigram/bigram
    # counts, add-k smoothing with V+1 reserved mass, seen-context and
    # unseen-context fallbacks, per-bigram lp -> integer micro-nats -> sum
    "q04_left_join": Q04_LEFT_JOIN_ORACLE,
    "scd2_merge": _SCD2_ORACLE,
    # single-line docs: a doc keeps its text unless its normalized form is
    # shared by MORE THAN 2 distinct docs (and non-empty after trim)
    "line_dedup": """
        with l as (
          select doc_id, text, lower(trim(text)) as norm from documents
        ),
        hot as (
          select norm from l
          where len(norm) >= 1
          group by norm
          having count(distinct doc_id) > 2
        )
        select doc_id,
               case when norm in (select norm from hot) then '' else text end
                 as text
        from l
        order by doc_id
    """,
    # same Knuth-hash + rank arithmetic as operators/sampling.py
    "sample_per_source": """
        with b as (
          select doc_id, source,
                 ((doc_id % 2147483648) * 2654435761) % 2147483648 as h
          from documents
        ),
        r as (
          select doc_id, source,
                 row_number() over (partition by source order by h, doc_id) as rk
          from b
        )
        select doc_id, source from r where rk <= 5 order by doc_id
    """,
    "key_skew": """
        with pk as (select o_custkey, count(*) as n from orders group by 1),
        t as (select cast(sum(n) as bigint) as total,
                     cast(count(*) as bigint) as nkeys from pk)
        select o_custkey, cast(n as bigint) as n,
               round(n / t.total, 6) as share,
               round((n * t.nkeys) / t.total, 2) as skew_factor
        from pk cross join t
        order by n desc, o_custkey
        limit 10
    """,
    # mirrors operators/retrieval.py term for term: same index/df/avgdl,
    # same idf and length-normalization operand order, same micro-rounding
    # and (score desc, doc_id) tie order
    "bm25": f"""
        with {_BM25_CTES}
        select query_id, doc_id, score_micros,
               cast(row_number() over (partition by query_id
                    order by score_micros desc, doc_id) as int) as rank
        from scored
        qualify rank <= 5
        order by query_id, rank
    """,
    # both retrievers AND the fusion replay: BM25 ranks from the shared
    # CTEs, dense ranks brute-forced over embeddings, RRF contributions
    # rounded to integer micros before the sum exactly as rrf_fuse does
    "rrf_hybrid": f"""
        with {_BM25_CTES},
        branked as (
          select query_id, doc_id,
                 row_number() over (partition by query_id
                      order by score_micros desc, doc_id) as rank
          from scored
          qualify rank <= 5
        ),
        e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
        qv as (select vec_id, v from e where vec_id in (1, 3, 5)),
        cscored as (
          select qv.vec_id as query_id, e.vec_id as neighbor_id,
                 list_dot_product(qv.v, e.v)
                   / (sqrt(list_dot_product(qv.v, qv.v))
                      * sqrt(list_dot_product(e.v, e.v))) as sim
          from qv join e on e.vec_id <> qv.vec_id
        ),
        cranked as (
          select query_id, neighbor_id as doc_id,
                 row_number() over (partition by query_id
                      order by sim desc, neighbor_id) as rank
          from cscored
          qualify rank <= 5
        ),
        uni as (
          select query_id, doc_id, rank from branked
          union all
          select query_id, doc_id, rank from cranked
        ),
        fused as (
          select query_id, doc_id,
                 cast(sum(cast(round(1000000.0 / (60 + rank)) as bigint))
                      as bigint) as rrf_micros,
                 count(*) as n_systems
          from uni group by 1, 2
        )
        select query_id, doc_id, rrf_micros, n_systems,
               cast(row_number() over (partition by query_id
                    order by rrf_micros desc, doc_id) as int) as rank
        from fused
        qualify rank <= 10
        order by query_id, rank
    """,
    # candidate-union + exact rerank: BM25 top-5 from the shared CTEs,
    # dense top-5 brute-forced, DISTINCT union of (query, doc) pairs,
    # exact cosine against the query vectors, (sim desc, doc_id) cut —
    # the same round-6 math as ann_topk_cosine's sim (hash-proven there)
    "hybrid_rerank": f"""
        with {_BM25_CTES},
        branked as (
          select query_id, doc_id,
                 row_number() over (partition by query_id
                      order by score_micros desc, doc_id) as rank
          from scored
          qualify rank <= 5
        ),
        e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
        qv as (select vec_id, v from e where vec_id in (1, 3, 5)),
        cscored as (
          select qv.vec_id as query_id, e.vec_id as neighbor_id,
                 list_dot_product(qv.v, e.v)
                   / (sqrt(list_dot_product(qv.v, qv.v))
                      * sqrt(list_dot_product(e.v, e.v))) as sim
          from qv join e on e.vec_id <> qv.vec_id
        ),
        cranked as (
          select query_id, neighbor_id as doc_id,
                 row_number() over (partition by query_id
                      order by sim desc, neighbor_id) as rank
          from cscored
          qualify rank <= 5
        ),
        cands as (
          select query_id, doc_id from branked
          union
          select query_id, doc_id from cranked
        ),
        rescored as (
          select c.query_id, c.doc_id,
                 list_dot_product(qv.v, e.v)
                   / (sqrt(list_dot_product(qv.v, qv.v))
                      * sqrt(list_dot_product(e.v, e.v))) as sim
          from cands c
          join qv on qv.vec_id = c.query_id
          join e on e.vec_id = c.doc_id
          where c.doc_id <> c.query_id
        )
        select query_id, doc_id,
               cast(row_number() over (partition by query_id
                    order by sim desc, doc_id) as int) as rank,
               round(sim, 6) as cosine_sim
        from rescored
        qualify rank <= 5
        order by query_id, rank
    """,
    "normalize_text": _normalize_oracle_sql(),
    "pii_redact": _pii_oracle_sql(),
    # ceil-based chunk counts, stride-32 slice starts, short last chunk —
    # list slicing is 1-based inclusive in DuckDB: t[s : s+39]
    "chunk_documents": """
        with t as (
          select doc_id, string_split(coalesce(text, ''), ' ') as toks,
                 len(string_split(coalesce(text, ''), ' ')) as n
          from documents
        ),
        c as (
          select doc_id, toks, n,
                 case when n <= 40 then 1
                      else cast(ceil((n - 40) / 32.0) as int) + 1 end as n_chunks
          from t
        )
        select doc_id,
               cast(i as int) as chunk_no,
               n_chunks,
               array_to_string(toks[i * 32 + 1 : i * 32 + 40], ' ') as chunk_text,
               cast(len(toks[i * 32 + 1 : i * 32 + 40]) as int) as chunk_tokens
        from c, unnest(range(0, n_chunks)) as u(i)
        order by doc_id, chunk_no
    """,
    # the md5-prefix hash is the engine-portable twin of Spark's
    # conv(substr(md5(...),1,8),16,10) — same dsir/bucket convention
    "sample_exact_n": """
        select doc_id from (
          select doc_id,
                 ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint
                   as k
          from documents
          order by k, doc_id
          limit 120
        )
        order by doc_id
    """,
    # prefix slice + sequential-fold norm + per-element renormalize; the
    # zero-norm passthrough replays as a case
    "matryoshka": """
        with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
        p as (select vec_id, v[1:32] as pv from e),
        n as (
          select vec_id, pv, sqrt(list_dot_product(pv, pv)) as nrm from p
        )
        select vec_id,
               case when nrm > 0
                    then list_transform(pv, x -> round(x / nrm, 6))
                    else list_transform(pv, x -> round(x, 6)) end as vec32
        from n
        order by vec_id
    """,
    # per-row scale and codes recomputed from scratch; the lambda's outer
    # reference to `scale` is a correlated column, supported by both engines
    "quantize": """
        with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
        s as (
          select vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 as scale
          from e
        )
        select vec_id,
               round(scale, 9) as qscale,
               case when scale > 0
                    then list_transform(v, x -> cast(round(x / scale) as int))
                    else list_transform(v, x -> 0) end as qvec
        from s
        order by vec_id
    """,
    # the quality twin is the curate/quantile oracles' expression verbatim;
    # micro-sum outer-cast to bigint (DuckDB sum -> HUGEINT -> float64 trap)
    "corpus_stats": """
        with tk as (select doc_id, source, text,
                           string_split(text, ' ') as toks from documents),
        q as (
          select source, text,
                 round(0.5 * least(len(toks) / 100.0, 1.0)
                       + 0.4 * (len(list_distinct(toks)) * 1.0 / len(toks))
                       + 0.1 * least(len(list_filter(toks,
                             x -> list_contains(['the','a','of','and','is','to','in'], x)))
                                     * 1.0 / len(toks) * 5.0, 1.0), 6) as quality,
                 len(toks) as n_tok
          from tk
        )
        select source as "group",
               count(*) as docs,
               count(quality) as q_docs,
               cast(sum(n_tok) as bigint) as tokens,
               cast(sum(length(text)) as bigint) as chars,
               cast(sum(cast(round(quality * 1000000) as bigint)) as bigint)
                 as q_micros
        from q
        group by 1
        order by 1
    """,
    # golden-driven: fingerprints from the committed winnowing fixture;
    # sizes from the FULL golden, the max_df filter only prunes the join
    # side — exactly containment_pairs' structure
    "containment": f"""
        with g as (
          select doc_id, f
          from read_parquet('{FIX}/winnow_fps_sf0_01.parquet')
        ),
        sizes as (select doc_id, count(*) as n_fp from g group by 1),
        hot as (select f from g group by f having count(*) > 50),
        ex as (select doc_id, f from g where f not in (select f from hot)),
        shared as (
          select a.doc_id as i, b.doc_id as j, count(*) as shared
          from ex a join ex b on a.f = b.f and a.doc_id <> b.doc_id
          group by 1, 2
        )
        select s.i, s.j,
               round(cast(s.shared as double) / cast(z.n_fp as double), 6)
                 as containment
        from shared s join sizes z on z.doc_id = s.i
        where round(cast(s.shared as double) / cast(z.n_fp as double), 6) >= 0.5
        order by i, j
    """,
    # joins on raw 3-gram strings where Spark joins on xxhash64(gram) —
    # counts agree absent a 64-bit collision between co-occurring grams;
    # the max_df guard replays as a df-threshold anti-filter before the join
    "contamination": """
        with t as (select doc_id, string_split(text, ' ') as toks from documents),
        sh as (
          select doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(toks) - 2, 0) + 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
                 )) as sh
          from t where len(toks) >= 3
        ),
        ex as (select doc_id, unnest(sh) as g from sh),
        bench as (select doc_id as bench_id, g from ex where doc_id in (2, 4, 6)),
        bench_sizes as (
          select bench_id, count(*) as bench_ngrams from bench group by 1
        ),
        hot as (
          select g from ex group by g having count(*) > 50
        ),
        corp as (
          select doc_id as corpus_id, g from ex
          where g not in (select g from hot)
        ),
        shared as (
          select b.bench_id, c.corpus_id, count(*) as shared_ngrams
          from bench b join corp c using (g)
          group by 1, 2
        )
        select s.bench_id, s.corpus_id,
               s.shared_ngrams, z.bench_ngrams,
               round(cast(s.shared_ngrams as double)
                     / cast(z.bench_ngrams as double), 6) as contamination
        from shared s join bench_sizes z using (bench_id)
        order by bench_id, corpus_id
    """,
    # metrics over the hybrid system: hybrid top-5 (same CTEs as the
    # hybrid_rerank row) scored against exact-cosine top-10 graded qrels;
    # DCG terms micro-round before integer sums on both sides of the
    # nDCG ratio, recall is capped at k, absent queries report zeros
    "retrieval_eval": f"""
        with {_BM25_CTES},
        branked as (
          select query_id, doc_id,
                 row_number() over (partition by query_id
                      order by score_micros desc, doc_id) as rank
          from scored
          qualify rank <= 5
        ),
        e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
        qv as (select vec_id, v from e where vec_id in (1, 3, 5)),
        cscored as (
          select qv.vec_id as query_id, e.vec_id as neighbor_id,
                 list_dot_product(qv.v, e.v)
                   / (sqrt(list_dot_product(qv.v, qv.v))
                      * sqrt(list_dot_product(e.v, e.v))) as sim
          from qv join e on e.vec_id <> qv.vec_id
        ),
        cranked as (
          select query_id, neighbor_id as doc_id,
                 row_number() over (partition by query_id
                      order by sim desc, neighbor_id) as rank
          from cscored
        ),
        cands as (
          select query_id, doc_id from branked
          union
          select query_id, doc_id from cranked where rank <= 5
        ),
        rescored as (
          select c.query_id, c.doc_id,
                 list_dot_product(qv.v, e.v)
                   / (sqrt(list_dot_product(qv.v, qv.v))
                      * sqrt(list_dot_product(e.v, e.v))) as sim
          from cands c
          join qv on qv.vec_id = c.query_id
          join e on e.vec_id = c.doc_id
          where c.doc_id <> c.query_id
        ),
        hres as (
          select query_id, doc_id,
                 row_number() over (partition by query_id
                      order by sim desc, doc_id) as rank
          from rescored
          qualify rank <= 5
        ),
        tscored as (
          select qv.vec_id as query_id, e.vec_id as doc_id,
                 list_dot_product(qv.v[1:32], e.v[1:32])
                   / (sqrt(list_dot_product(qv.v[1:32], qv.v[1:32]))
                      * sqrt(list_dot_product(e.v[1:32], e.v[1:32]))) as sim
          from qv join e on e.vec_id <> qv.vec_id
        ),
        tres as (
          select query_id, doc_id,
                 row_number() over (partition by query_id
                      order by sim desc, doc_id) as rank
          from tscored
          qualify rank <= 5
        ),
        res as (
          select 'hybrid' as system, query_id, doc_id, rank from hres
          union all
          select 'trunc32' as system, query_id, doc_id, rank from tres
        ),
        qrels as (
          select query_id, doc_id, 11 - rank as rel
          from cranked where rank <= 10
        ),
        hits as (
          select r.system, j.query_id,
                 count(*) as hits_at_k,
                 min(r.rank) as first_rel_rank,
                 cast(sum(cast(round((pow(2, j.rel) - 1)
                      / log2(r.rank + 1.0) * 1000000) as bigint)) as bigint)
                   as dcg_micros
          from qrels j
          join res r using (query_id, doc_id)
          group by 1, 2
        ),
        ideal as (
          select query_id,
                 cast(sum(cast(round((pow(2, rel) - 1)
                      / log2(irank + 1.0) * 1000000) as bigint)) as bigint)
                   as idcg_micros
          from (
            select query_id, rel,
                   row_number() over (partition by query_id
                        order by rel desc, doc_id) as irank
            from qrels
          )
          where irank <= 5
          group by 1
        ),
        nrel as (select query_id, count(*) as n_rel from qrels group by 1),
        systems as (select distinct system from res)
        select s.system, n.query_id, n.n_rel,
               cast(coalesce(h.hits_at_k, 0) as int) as hits_at_k,
               round(coalesce(h.hits_at_k, 0) / least(n.n_rel, 5), 6)
                 as recall_at_k,
               coalesce(cast(round(1000000.0 / h.first_rel_rank) as bigint),
                        0) as mrr_micros,
               coalesce(cast(round(h.dcg_micros / cast(i.idcg_micros as double)
                        * 1000000) as bigint), 0) as ndcg_micros
        from systems s
        cross join nrel n
        join ideal i using (query_id)
        left join hits h on h.system = s.system and h.query_id = n.query_id
        order by s.system, n.query_id
    """,
    "profile": """
        with m as (
          select 'c_custkey' as "column", count(*) as n_rows,
                 sum(case when c_custkey is null then 1 else 0 end) as n_nulls,
                 cast(min(c_custkey) as varchar) as min_value,
                 cast(max(c_custkey) as varchar) as max_value
          from customer
          union all
          select 'c_name', count(*),
                 sum(case when c_name is null then 1 else 0 end),
                 min(c_name), max(c_name) from customer
          union all
          select 'c_mktsegment', count(*),
                 sum(case when c_mktsegment is null then 1 else 0 end),
                 min(c_mktsegment), max(c_mktsegment) from customer
          union all
          select 'c_nationkey', count(*),
                 sum(case when c_nationkey is null then 1 else 0 end),
                 cast(min(c_nationkey) as varchar),
                 cast(max(c_nationkey) as varchar) from customer
        )
        select "column", cast(n_rows as bigint) as n_rows,
               cast(n_nulls as bigint) as n_nulls,
               round(n_nulls / n_rows, 6) as null_ratio,
               min_value, max_value
        from m order by "column"
    """,
    # the as-of filter over the replayed dimension: only rows already valid
    # at 2024-01-15 and not yet closed — i.e. every key's T0 version
    "scd2_as_of": f"""
        with cust as (select c_custkey, c_name, c_acctbal, c_mktsegment from customer)
        select c_custkey, c_name, c_acctbal, c_mktsegment,
               timestamp '{_SCD2_T0}' as valid_from,
               cast(null as timestamp) as valid_to, true as is_current
        from cust where c_custkey % 3 <> 0
        union all
        select c_custkey, c_name, c_acctbal, c_mktsegment,
               timestamp '{_SCD2_T0}', timestamp '{_SCD2_T1}', false
        from cust where c_custkey % 3 = 0
        order by c_custkey
    """,
    "interval_join": """
        with c as (select event_id, user_id, ts from events
                   where event_type = 'click'),
        p as (select event_id, user_id, ts from events
              where event_type = 'purchase')
        select c.event_id as event_id, c.user_id,
               cast(floor(epoch(c.ts)) as bigint) as click_epoch,
               p.event_id as purchase_event_id,
               cast(floor(epoch(p.ts)) as bigint) as purchase_epoch
        from c join p on c.user_id = p.user_id
           and p.ts >= c.ts and p.ts <= c.ts + interval '1 hour'
        order by 1, 4
    """,
    "perplexity": """
        with tk as (select doc_id, string_split(text, ' ') as toks from documents),
        uni as (
          select w1, count(*) as c1 from (
            select unnest(toks) as w1 from tk
          ) group by 1
        ),
        v as (select count(*) as vocab from uni),
        bi as (
          select toks[i] as w1, toks[i + 1] as w2, count(*) as c2
          from tk, unnest(range(1, len(toks))) as t(i)
          where len(toks) >= 2
          group by 1, 2
        ),
        denom as (
          select w1, c1 + 0.1 * (vocab + 1) as denom from uni, v
        ),
        doc_bi as (
          select doc_id, toks[i] as w1, toks[i + 1] as w2
          from tk, unnest(range(1, len(toks))) as t(i)
          where len(toks) >= 2
        ),
        lp as (
          select d.doc_id,
                 coalesce(
                   ln((b.c2 + 0.1) / dn.denom),
                   ln(0.1 / dn.denom),
                   ln(1.0 / (v.vocab + 1))
                 ) as lp
          from doc_bi d
          left join bi b on b.w1 = d.w1 and b.w2 = d.w2
          left join denom dn on dn.w1 = d.w1
          cross join v
        ),
        agg as (
          select doc_id,
                 cast(count(*) as bigint) as n_bigrams,
                 cast(sum(cast(round(lp * 1000000) as bigint)) as bigint) as lp_micros
          from lp group by 1
        )
        select d.doc_id, a.n_bigrams, a.lp_micros
        from (select distinct doc_id from documents) d
        left join agg a on a.doc_id = d.doc_id
        order by d.doc_id
    """,
    # replays mixture_sample's full plan: per-source token totals ->
    # fraction = least(1, (budget * (w / total_w)) / avail)  [same operation
    # order as the Python side] -> cutoff = floor(fraction * 1000) ->
    # Knuth-bucket row picks. Sources outside the mix drop.
    "mixture_sample": """
        with t as (
          select doc_id, source,
                 cast(len(string_split(text, ' ')) as bigint) as toks
          from documents
        ),
        avail as (select source, cast(sum(toks) as bigint) as a from t group by 1),
        plan as (
          select avail.source,
                 cast(floor(least(1.0, (1500 * (m.w / 1.0)) / avail.a) * 1000) as bigint)
                   as cutoff
          from avail
          join (values ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) m(source, w)
            on m.source = avail.source
        )
        select d.doc_id, d.source
        from documents d
        join plan p on p.source = d.source
        where (((d.doc_id % 2147483648) * 2654435761) % 2147483648) % 1000 < p.cutoff
        order by d.doc_id
    """,
    # the exporter's shard assignment replayed in pure integer arithmetic
    # (doc_id >= 0, so % == pmod; the mod-2^31 reduction keeps the product
    # inside bigint on both engines)
    "training_shards": """
        select cast((((doc_id % 2147483648) * 2654435761) % 2147483648) % 16
                    as int) as shard,
               count(*) as n_docs,
               cast(sum(n_chars) as bigint) as sum_chars
        from documents
        group by 1
        order by 1
    """,
}
