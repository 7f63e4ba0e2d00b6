"""Document deduplication operators for large-scale training-data pipelines.

All variants operate on a `documents(doc_id bigint, text string, ...)` frame
and are designed for the 100 TB regime:

- exact_duplicates:     hash-groupBy — one shuffle on a 32-char digest, never
                        on the raw text.
- jaccard_similar_pairs: shingle → inverted-index self-join with PREFIX
                        FILTERING (only the globally-rarest part of each
                        doc's shingle set is indexed), then exact Jaccard
                        verification of candidates. Prefix filtering is
                        lossless for the threshold, so output == brute force,
                        but the candidate join is orders of magnitude smaller
                        and avoids the hot-token O(n²) blowup.
- minhash_lsh_similar_pairs: MinHash signatures (b bands × r rows) →
                        band-bucket join → exact-Jaccard verification.
                        Probabilistic candidate generation, exact output.
- simhash_near_pairs:   64-bit SimHash, banded by 4×16-bit chunks (any pair
                        within Hamming distance 3 shares ≥1 exact chunk) →
                        Hamming verification. No false negatives for k<=3.

One core serves every path: exact_digest is the one exact-dup digest,
ngrams.ngrams_from_tokens the one positional k-gram expression (shingles are
its distinct set), _bucket_pairs the one i < j bucket self-join, and
_drop_hot_keys the one max_df hot-key guard.

Spark-first notes: everything is DataFrame ops + built-in functions (codegen
stays on); the only shuffles are the groupBy/join on short keys; no Python
row loops. sort_array/canonical ordering keeps outputs deterministic.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from schemamap_spark.operators.ngrams import ngrams_from_tokens
from schemamap_spark.session import ensure_parallelism


def tokens(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


def exact_digest(text_col: str = "text") -> F.Column:
    """The exact-dup digest, md5(lower(trim(text))): the format of the
    incremental fingerprint store, so every exact-dup path uses this one."""
    return F.md5(F.lower(F.trim(F.col(text_col))))


def shingles_from_tokens(toks_col: str, k: int = 3) -> F.Column:
    """Distinct k-token shingles from a PRE-SPLIT token-array column.

    Operating on a materialized token column matters: referencing
    `split(text)` inside the transform lambda would re-split the full text
    for every element access (k × n_tokens splits per document) — Catalyst's
    CollapseProject keeps a separately-projected non-cheap expression
    evaluated once."""
    return F.array_distinct(ngrams_from_tokens(toks_col, k))


def shingles(col: str = "text", k: int = 3) -> F.Column:
    """Shingles straight from a text column — only for one-shot expressions;
    prefer shingles_from_tokens via a projected token column in pipelines."""
    return shingles_from_tokens(f"split({col}, ' ')", k)


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) texts, one row per duplicated
    digest: (fingerprint, dup_count, doc_ids sorted)."""
    with_fp = docs.select("doc_id", exact_digest().alias("fingerprint"))
    return (
        with_fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def shingles_for(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, sh) shingle sets of docs with at least k tokens — what every
    shingle-based operator verifies on, and the old_shingles input for
    incremental_minhash_dedup, computed over (only) the docs you pass."""
    # Small-file inputs arrive as 1-2 partitions; shingling/hashing is the
    # CPU-heavy fan-out, so spread it across the cluster FIRST. At 100 TB the
    # scan is already wide and AQE will coalesce the extra shuffle away.
    docs = ensure_parallelism(docs, id_col)
    # Filter on token count, not on size(sh): a size(sh)>0 predicate gets
    # pushed below the repartition and re-evaluates the whole shingle
    # expression on the narrow pre-shuffle plan. size(toks) >= k is the
    # equivalent cheap predicate.
    return (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
        .filter(F.size("toks") >= k)
        .select("doc_id", shingles_from_tokens("toks", k).alias("sh"))
    )


def jaccard_similar_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All doc pairs with shingle-set Jaccard >= threshold.

    Exact result. Candidate generation uses prefix filtering: order each
    doc's shingles by global frequency (rarest first); two sets with Jaccard
    >= t MUST share a shingle within the first floor((1-t)*|S|)+1 of each —
    so only that prefix is exploded into the inverted index.
    """
    # persisted so the 3 lineage branches (index + both verify sides) share
    # one computation; Spark's ContextCleaner unpersists it once the
    # returned DataFrame is garbage-collected on the driver
    sh = shingles_for(docs, k, id_col, text_col).persist()
    exploded = sh.select("doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("s"))

    freq = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # rarest-first rank within each doc; ties broken by shingle text for determinism
    ranked = (
        exploded.join(freq, "s")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .withColumn("prefix_len", F.floor((1.0 - threshold) * F.col("sz")).cast("int") + 1)
        .filter(F.col("rnk") <= F.col("prefix_len"))
        .select("doc_id", "s", "rnk", "sz")
        # persisted: this prefix index (explode + global-frequency join +
        # per-doc window — two shuffles of every shingle) feeds BOTH sides
        # of the candidate self-join; unpersisted the whole subtree runs
        # once per side whenever one side broadcasts (exchange reuse only
        # dedups identical shuffle exchanges, never broadcast builds).
        # Prefix rows are (id, shingle, 2 ints) bounded by the prefix cut —
        # a fraction of the already-persisted `sh`. Same lifetime
        # convention as the other dedup persists.
        .persist()
    )

    # Positional (ppjoin-style) suffix bound before the expensive verify:
    # all docs rank shingles by ONE global rarity order, so the first shared
    # shingle of a pair attains min rank on both sides simultaneously and
    # overlap(A,B) <= 1 + min(|A| - p_a, |B| - p_b); Jaccard >= t ⇔
    # overlap >= t/(1+t)·(|A|+|B|). Pairs whose bound can't reach that are
    # pruned LOSSLESSLY (pinned by the brute-force-oracle parity row and
    # the jaccard==minhash equality test). Measured sf0.1: candidates
    # 409k → 125k, wall 4.6s → 2.5s median (SCALE.md).
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"),
            F.col("a.rnk").alias("pi"), F.col("b.rnk").alias("pj"),
            F.col("a.sz").alias("szi"), F.col("b.sz").alias("szj"),
        )
        .groupBy("i", "j", "szi", "szj")
        .agg(F.min("pi").alias("pi"), F.min("pj").alias("pj"))
        .filter(
            F.lit(1.0) + F.least(F.col("szi") - F.col("pi"), F.col("szj") - F.col("pj"))
            >= F.ceil(
                F.lit(threshold / (1.0 + threshold)) * (F.col("szi") + F.col("szj"))
            )
        )
        .select("i", "j")
    )
    return _verify_jaccard(cand, sh, threshold)


def _verify_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs via full shingle sets.

    |A ∪ B| is derived as |A| + |B| − |A ∩ B| instead of materializing
    array_union: the shingle arrays are DISTINCT by construction
    (shingles_from_tokens), so the identity is exact — same integers,
    same double division, bit-identical jaccard (verified pairwise on
    sf0.1, 256/256 rows equal) — while each candidate pair pays one
    set-op pass instead of two (the per-pair verify cost is the term
    that scales with candidate count at corpus size; filter pushdown
    inlines the jac expression into the predicate, doubling whichever
    set-ops it contains)."""
    a = sh.select(F.col("doc_id").alias("i"), F.col("sh").alias("sh_i"))
    b = sh.select(F.col("doc_id").alias("j"), F.col("sh").alias("sh_j"))
    isz = F.size(F.array_intersect("sh_i", "sh_j"))
    jac = isz.cast("double") / (
        F.size("sh_i") + F.size("sh_j") - isz
    ).cast("double")
    scored = (
        cand.join(a, "i")
        .join(b, "j")
        .select("i", "j", jac.alias("jac"))
        .filter(F.col("jac") >= threshold)
    )
    return scored.select("i", "j", F.round("jac", 6).alias("jaccard")).orderBy("i", "j")


def _bucket_pairs(
    rows: DataFrame, keys: list[str], carry: str | None = None
) -> DataFrame:
    """Distinct (i, j) doc_id pairs with i < j that agree on every `keys`
    column — the one candidate self-join of the banded paths (LSH band
    buckets, simhash chunks). `carry` rides along as `<carry>_i` and
    `<carry>_j`, so a verifier needing a per-doc value joins only once."""
    a, b = rows.alias("a"), rows.alias("b")
    on = reduce(
        lambda x, y: x & y,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in keys]
        + [F.col("a.doc_id") < F.col("b.doc_id")],
    )
    carried = [] if carry is None else [
        F.col(f"a.{carry}").alias(f"{carry}_i"), F.col(f"b.{carry}").alias(f"{carry}_j")
    ]
    return (
        a.join(b, on)
        .select(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"), *carried)
        .distinct()
    )


def _band_rows(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) LSH band rows from a shingled frame — the ONE
    banding definition, shared by batch pair-finding and the incremental
    band store (stored buckets must be comparable across runs, so this
    derivation is fully deterministic: xxhash64 shingle hash + fixed-seed
    affine universal minhashes).

    Hash every shingle ONCE (the expensive string hash), then derive the
    num_hashes minhash functions as universal-hash affine transforms
    (a*h + b) mod p over the Mersenne prime p = 2^31-1. Signature cost is
    O(|sh|) string hashes instead of O(|sh| * num_hashes), and all products
    stay below 2^62 (ANSI-safe — Spark 4 raises on long overflow). Band rows
    carry ONLY (doc_id, band, bucket) — never the shingle arrays; replicating
    payload through a 64-way posexplode would dominate the shuffle."""
    rows_per_band = num_hashes // bands
    P = 2_147_483_647  # 2^31 - 1
    # The whole signature/banding projection is built as TWO SQL strings
    # (one parse round-trip each) instead of ~100 nested Column objects:
    # every F.<fn>() call is a py4j round-trip, and at 64 hashes × 32 bands
    # the Column-by-Column construction alone cost ~0.9 s of driver wall
    # per bench run (6.5k JVM calls profiled, r18). The parsed expression
    # tree — and therefore every hash value, the committed LSH goldens,
    # and the incremental band store — is IDENTICAL: same xxhash64/pmod
    # arithmetic with the same long-typed constants (guide §1.2: per-task
    # work includes the driver's plan-construction work in PySpark).
    base = sh.withColumn("hs", F.expr(f"transform(sh, s -> pmod(xxhash64(s), {P}L))"))

    def _minhash_sql(seed: int) -> str:
        a = (0x9E3779B9 * (seed + 1)) % (P - 1) + 1
        b = (0x85EBCA6B * (seed + 7)) % P
        return f"array_min(transform(hs, h -> pmod(h * {a}L + {b}L, {P}L)))"

    sig = base.select(
        "doc_id",
        F.expr(
            "array(" + ", ".join(_minhash_sql(i) for i in range(num_hashes)) + ")"
        ).alias("sig"),
    )

    def _band_sql(b: int) -> str:
        # element_at(sig, n) is 1-based; sig[n] is 0-based — same element
        els = ", ".join(
            f"cast(sig[{b * rows_per_band + r}] as string)"
            for r in range(rows_per_band)
        )
        return f"xxhash64(concat_ws(',', {els}))"

    return sig.select(
        "doc_id",
        F.posexplode(
            F.expr("array(" + ", ".join(_band_sql(b) for b in range(bands)) + ")")
        ).alias("band", "bucket"),
    )


def minhash_lsh_similar_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash + banded LSH candidates, exact-Jaccard verified.

    num_hashes/bands = rows per band (r=2 by default): P(candidate) =
    1-(1-j^r)^b — at j=0.8 with b=32, miss probability ~3e-15; candidates are
    exact-verified so false positives only cost join work. Band keys
    (band_id, hash(sig_slice)) are the only join key.
    """
    return _lsh_pairs(docs, threshold, k, num_hashes, bands, id_col, text_col)[0]


def _lsh_pairs(
    docs: DataFrame, threshold: float, k: int, num_hashes: int, bands: int,
    id_col: str, text_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(verified pairs, sh, banded) — the one MinHash-LSH candidate-and-
    verify path, shared by batch mode and incremental mode's in-batch pairs
    (so those equal batch mode by construction)."""
    # persisted: reused by the signature branch and both verify branches
    sh = shingles_for(docs, k, id_col, text_col).persist()
    # banded persisted too: it feeds BOTH sides of the bucket self-join,
    # and unpersisted the 64-minhash signature projection — the dominant
    # CPU cost of the whole operator — is computed once PER SIDE (the r19
    # before-plan shows the full sig/banding subtree twice, nodes 10-12 and
    # 16-18; when one side broadcasts, exchange reuse can never dedup
    # them). Band rows are 3 small ints per (doc × band) — bounded
    # metadata, never the shingle arrays — so the cache is cheap at any
    # scale; incremental mode also returns it as the new band-store rows.
    # Same ContextCleaner lifetime as `sh` above.
    banded = _band_rows(sh, num_hashes, bands).persist()
    cand = _bucket_pairs(banded, ["band", "bucket"])
    return _verify_jaccard(cand, sh, threshold), sh, banded


def simhash_fingerprints(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """64-bit SimHash fingerprint per document: per-shingle xxhash64; each of
    64 bits votes +1/-1; sign of the sum forms the fingerprint. Output
    (doc_id, simhash). Engine-specific (xxhash64 has no portable SQL twin),
    so correctness is pinned by a committed golden parquet
    (tools/gen_simhash_golden.py) rather than a recomputing oracle."""
    sh = shingles_for(docs, k, id_col, text_col)
    hashed = sh.select("doc_id", F.expr("transform(sh, s -> xxhash64(s))").alias("hs"))

    # SQL-string construction, same rationale as _band_rows: the 64 vote
    # aggregates + 64 bit selects as TWO parses instead of ~130 nested
    # Column trees (each a py4j round-trip). Identical arithmetic —
    # if(cond, 1, -1) types and evaluates exactly as the former
    # when/otherwise, shiftleft(1L, bit) is the same long shift (a 2**63
    # literal would overflow; the shift is fine) — pinned by the committed
    # simhash golden parquet.
    def _bit_vote_sql(bit: int) -> str:
        return (
            f"aggregate(hs, 0, (acc, h) -> "
            f"acc + if((shiftright(h, {bit}) & 1) = 1, 1, -1)) as b{bit}"
        )

    bit_sums = hashed.selectExpr(
        "doc_id", *[_bit_vote_sql(bit) for bit in range(64)]
    )
    fp = " + ".join(
        f"if(b{bit} > 0, shiftleft(cast(1 as bigint), {bit}), cast(0 as bigint))"
        for bit in range(64)
    )
    return bit_sums.selectExpr("doc_id", f"cast(0 as bigint) + {fp} as simhash")


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs of documents whose 64-bit SimHash differs in <= max_hamming bits.

    Banding: the fingerprint is split into max_hamming+1 chunks — any pair
    within the distance budget must agree exactly on >= 1 chunk (pigeonhole),
    so the guarantee holds for EVERY max_hamming, not just the 4x16 special
    case. Candidates come from an equi-join on (chunk_id, chunk_value) and
    are exact-verified by bit_count.
    """
    if not 0 <= max_hamming <= 31:
        # need max_hamming+1 chunks of >= 2 bits each from 64 bits; beyond
        # that the chunk join degenerates to near-all-pairs anyway
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}")
    # persisted: the fingerprint subtree (shingle hash + 64 vote
    # aggregates, the operator's dominant CPU) feeds BOTH sides of the
    # chunk self-join below; unpersisted it is computed once per side
    # (broadcast builds can never share it via exchange reuse). One row
    # of 2 longs per doc — bounded at any scale. Same ContextCleaner
    # lifetime convention as the other dedup persists.
    simhash = simhash_fingerprints(docs, k, id_col, text_col).persist()

    nchunks = max_hamming + 1
    base, rem = divmod(64, nchunks)
    chunk_exprs = []
    start = 0
    for c in range(nchunks):
        width = base + (1 if c < rem else 0)
        shifted = F.shiftrightunsigned("simhash", start)
        if width == 64:
            # max_hamming=0: one full-width chunk. (1<<64)-1 overflows a Java
            # long literal (F.lit raises at plan build); the shift alone is
            # already the whole word, no mask needed.
            chunk_exprs.append(shifted.cast("long"))
        else:
            mask = (1 << width) - 1
            chunk_exprs.append(shifted.bitwiseAND(F.lit(mask)).cast("long"))
        start += width
    chunked = simhash.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_id", "chunk_val"),
    )
    cand = _bucket_pairs(chunked, ["chunk_id", "chunk_val"], carry="simhash")
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("simhash_i").bitwiseXOR(F.col("simhash_j")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
        .orderBy("i", "j")
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 3, w: int = 4, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Winnowing fingerprint SETS (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every positional k-token shingle, slide a
    window of w consecutive hashes, keep each window's minimum. Guarantee:
    any shared token run of length >= w + k - 1 contributes at least one
    shared fingerprint, so fingerprint overlap detects partial containment
    (quotes, boilerplate, near-copies), which a single global-min
    fingerprint (functions/text.doc_fingerprint) cannot.

    All built-in Column ops (positional shingles -> xxhash64 -> windowed
    array_min -> distinct); output (id, fingerprints array<long>). Work is
    O(tokens * w) per doc and embarrassingly parallel."""
    docs = ensure_parallelism(docs, id_col)
    fps = (
        f"array_distinct(transform(sequence(1, greatest(size(hs) - {w - 1}, 0)), "
        f"i -> array_min(slice(hs, i, {w}))))"
    )
    return (
        docs.select(F.col(id_col), tokens(text_col).alias("toks"))
        .filter(F.size("toks") >= k)
        .select(
            id_col, F.transform(ngrams_from_tokens("toks", k), lambda g: F.xxhash64(g)).alias("hs")
        )
        .select(id_col, F.expr(fps).alias("fingerprints"))
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    w: int = 4,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric containment detection over winnowing fingerprints:
    containment(i in j) = |FP_i ∩ FP_j| / |FP_i|. Emits BOTH directions for
    each pair, so a short document pasted into a long one scores high as
    (short in long) even when Jaccard is tiny.

    Candidate generation is an inverted-index equi-join on the fingerprint
    value. At corpus scale, boilerplate fingerprints shared by a large share
    of documents make that join quadratic in the hot key — pass max_df to
    drop fingerprints appearing in more than max_df documents (stop-
    fingerprint removal; standard winnowing practice and harmless for
    containment, since ubiquitous fingerprints carry no signal)."""
    # persisted so the sizes / inverted-index / hot-key branches share one
    # computation; Spark's ContextCleaner unpersists it once the returned
    # DataFrame is garbage-collected on the driver (same lifecycle as
    # jaccard_similar_pairs' shingle cache)
    fp = winnow_fingerprints(docs, k, w, id_col, text_col).persist()
    sizes = fp.select(F.col(id_col), F.size("fingerprints").alias("n_fp"))
    ex = _drop_hot_keys(
        fp.select(F.col(id_col), F.explode("fingerprints").alias("f")), "f", max_df
    )
    shared = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.f") == F.col("b.f"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("i"), F.col(f"b.{id_col}").alias("j")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col(id_col).alias("i"), F.col("n_fp").alias("n_i")), "i")
        .select(
            "i", "j",
            F.round(F.col("shared").cast("double") / F.col("n_i").cast("double"), 6)
            .alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("i", "j")
    )


def _drop_hot_keys(rows: DataFrame, key: str, max_df: int | None) -> DataFrame:
    """`rows` minus every row whose `key` value sits on more than max_df rows
    (all of `rows` when max_df is None) — the one hot-key guard of the
    inverted-index joins. Rows are one per (doc, key), so the row count is
    the key's document frequency."""
    if max_df is None:
        return rows
    hot = (
        rows.groupBy(key).agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select(key)
    )
    return rows.join(F.broadcast(hot), key, "left_anti")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-decontamination scan: hashed k-gram overlap between every
    benchmark/eval document and the training corpus (the standard 13-gram
    rule). One row per overlapping (bench_id, corpus_id) pair with the
    fraction of the benchmark doc's k-grams found in that corpus doc —
    benchmark docs with no row are clean.

    Scale shape: both sides reduce to (id, xxhash64(k-gram)) — the join key
    is an 8-byte hash, raw text never shuffles; overlap counting is a
    pair-key groupBy. ``max_df`` drops k-grams present in more than max_df
    CORPUS docs before the join (boilerplate phrases — the quadratic hot key
    of this join; standard practice and conservative, since dropping a
    k-gram can only lower reported contamination of genuinely common text).
    """
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        # tokens projected once per doc (the shingles_from_tokens rule);
        # shingles are distinct, so the hashed grams are too
        toks = df.select(F.col(id_col).alias(out_id), tokens(text_col).alias("toks"))
        hashed = F.transform(shingles_from_tokens("toks", k), lambda g: F.xxhash64(g))
        return toks.select(out_id, F.explode(hashed).alias("g"))

    bench = grams(benchmark, "bench_id")
    bench_sizes = bench.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_ngrams"))
    corp = grams(corpus, "corpus_id")
    if max_df is not None:
        # the corpus gram frame feeds BOTH the hot-gram df aggregation and
        # the overlap join — unpersisted, the full-corpus tokenize+hash
        # would run twice (the bm25-index rule; cache lives with the plan)
        from pyspark import StorageLevel

        corp = _drop_hot_keys(corp.persist(StorageLevel.MEMORY_AND_DISK), "g", max_df)

    shared = (
        bench.join(corp, "g")
        .groupBy("bench_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    # no orderBy here: decontaminate consumes these pairs and a global sort
    # feeding an anti-join is pure waste — report callers order at the edge
    return shared.join(bench_sizes, "bench_id").select(
        "bench_id", "corpus_id", "shared_ngrams", "bench_ngrams",
        F.round(
            F.col("shared_ngrams").cast("double") / F.col("bench_ngrams").cast("double"), 6
        ).alias("contamination"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    k: int = 13,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop from the TRAINING corpus every document that contains at least
    ``threshold`` of any benchmark doc's k-grams — the action half of
    contamination_report. Anti-join on the contaminated corpus ids; the
    benchmark rows are never mutated (eval sets are sacred)."""
    pairs = contamination_report(corpus, benchmark, k, max_df, id_col, text_col)
    dirty = (
        pairs.filter(F.col("contamination") >= threshold)
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(dirty, id_col, "left_anti")


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Exact dedup of a NEW batch against a persisted fingerprint store — the
    daily-ingest shape: the historical corpus never re-scans, only its
    digests (32 chars/doc) participate.

    seen_fingerprints: a frame with a `fingerprint` column (the union of
    previous batches' returned stores), or None for the first batch.
    Returns (fresh, fingerprints): `fresh` = the batch collapsed to one
    representative row per digest, minus anything already in the store;
    `fingerprints` = exactly the fresh digests — append them to the store
    (e.g. a parquet dir partitioned by digest prefix) for the next batch.
    The representative is the least row by (`id_col` with NULL ids last,
    then the other columns in order), so a batch that repeats an id still
    yields one row per digest, and the same one whatever the input order.
    The columns must be orderable (no map columns). curate_corpus collapses
    exact dups with this same call.

    At 100 TB: the anti-join keys are digests on both sides; with the store
    bucketed by fingerprint the join is shuffle-free on the store side."""
    # one aggregation picks the representative: min of a struct compares
    # field by field, so the id decides and the payload breaks its ties
    # (a struct orders NULL fields first, hence the leading isNull key)
    key = [F.col(id_col).isNull().alias("_null_id"), id_col] + [
        c for c in new_docs.columns if c != id_col
    ]
    batch_unique = (
        new_docs.groupBy(exact_digest(text_col).alias("fingerprint"))
        .agg(F.min(F.struct(*key)).alias("_rep"))
        .select(*[F.col("_rep")[c].alias(c) for c in new_docs.columns], "fingerprint")
    )
    if seen_fingerprints is not None:
        fresh = batch_unique.join(
            seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
        )
    else:
        fresh = batch_unique
    return fresh, fresh.select("fingerprint")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    band_store: DataFrame | None = None,
    old_shingles: DataFrame | None = None,
    threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Near-dup detection of a NEW batch against a persisted LSH band store
    (plus within the batch itself) — historical raw text never re-shingles;
    only (doc_id, band, bucket) rows ride the candidate join.

    band_store: (doc_id, band, bucket) rows from previous batches (the
    second element of earlier returns, unioned), or None for the first
    batch. old_shingles: (doc_id, sh) for store docs, needed to exact-verify
    cross-batch candidates; derive it ONLY for the candidate ids via
    `shingles_for(corpus.join(candidate_ids))` — passing the full historical
    shingle set would defeat the point. When omitted, cross-batch pairs are
    returned UNVERIFIED (sentinel jaccard = -1.0) for the caller to verify
    against its corpus store.

    Returns (pairs, new_band_rows):
    - pairs: (i, j, jaccard) with i < j; in-batch pairs always exact-verified,
      cross-batch pairs exact-verified iff old_shingles was given;
    - new_band_rows: this batch's (doc_id, band, bucket) — append to the
      store for the next batch. Banding derives from _band_rows, the same
      deterministic definition batch mode uses, so buckets are comparable
      across runs by construction.

    Re-ingested doc_ids (present in both the batch and the store) resolve
    new-batch-wins: the store's band rows AND old shingles for those ids are
    ignored, so pairs are emitted once with jaccard computed from the new
    text. (Callers refreshing a store should also replace the id's old band
    rows with the returned ones.)"""
    pairs, sh_new, banded_new = _lsh_pairs(
        new_docs, threshold, k, num_hashes, bands, id_col, text_col
    )

    if band_store is not None:
        # Re-ingested doc_ids (present in both the batch and the store) make
        # the new batch authoritative: the store's stale band rows for those
        # ids are excluded, otherwise a (new, old-self) band match would
        # surface every in-batch pair a second time through the cross branch.
        batch_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
        store_live = band_store.join(batch_ids, "doc_id", "left_anti")
        cand_cross = (
            banded_new.alias("n")
            .join(
                store_live.alias("o"),
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.bucket") == F.col("o.bucket"))
                & (F.col("n.doc_id") != F.col("o.doc_id")),
            )
            .select(
                F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("i"),
                F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias("j"),
            )
            .distinct()
        )
        if old_shingles is not None:
            # Same new-batch-wins rule for shingles: a re-ingested doc_id
            # with rows on BOTH sides of the union would fan out
            # _verify_jaccard's per-id joins into duplicated pair rows with
            # conflicting jaccard values.
            old_only = old_shingles.join(batch_ids, "doc_id", "left_anti")
            sh_all = sh_new.unionByName(old_only)
            cross = _verify_jaccard(cand_cross, sh_all, threshold)
        else:
            cross = cand_cross.select(
                "i", "j", F.lit(-1.0).alias("jaccard")
            )
        pairs = pairs.unionByName(cross)

    return pairs.orderBy("i", "j"), banded_new


def drop_repeated_lines(
    docs: DataFrame,
    max_doc_freq: int = 2,
    min_line_chars: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document LINE dedup (the CCNet/RefinedWeb boilerplate stage):
    drop every line that appears, normalized (trim + lower), in MORE THAN
    max_doc_freq distinct documents — navbars, cookie banners, license
    footers — while keeping each document's remaining lines in order.

    Output: (id_col, text) with the surviving lines re-joined by newline;
    documents whose every line was boilerplate come back with empty text
    (callers drop or count them — the funnel does, via quality gates).
    Lines shorter than min_line_chars after trimming are always kept (blank
    separators are structure, not boilerplate).

    Scale shape: lines reduce to (doc_id, pos, xxhash64(norm)) — the df
    count shuffles 8-byte hashes, never line text; the only text shuffle is
    the per-document reassembly groupBy, bounded by document size. The df
    guard is exact (no sampling): boilerplate detection must not miss the
    one banner that is in half the corpus."""
    lines = (
        ensure_parallelism(docs, id_col)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn("norm", F.lower(F.trim(F.col("line"))))
        .withColumn(
            "h",
            F.when(
                F.length("norm") >= min_line_chars, F.xxhash64("norm")
            ),  # NULL hash = exempt from df counting (always kept)
        )
    )
    df_counts = (
        lines.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("line_df"))
        .filter(F.col("line_df") > max_doc_freq)
        .select("h")
    )
    kept = lines.join(df_counts, "h", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n", F.transform(F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"])
            ).alias("text")
        )
        # docs whose every line was dropped must still appear (empty text)
        .join(docs.select(id_col), id_col, "right")
        .select(id_col, F.coalesce("text", F.lit("")).alias("text"))
    )
