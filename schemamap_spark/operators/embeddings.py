"""Embedding storage operators: symmetric int8 quantization.

At 100 TB scale the embedding store is often the dominant byte count
(1536-dim float32 = 6 KB/doc). Per-vector symmetric int8 quantization cuts
it ~4× (1 byte/dim + one float scale) while keeping cosine/dot rankings
within ~1% for typical embedding distributions — the standard first rung of
the compression ladder (before PQ/OPQ, which need trained codebooks).

All pure Column expressions (HOF transform over the array) — quantization
is a narrow map, no shuffle, codegen stays on. The quantized column is
array<tinyint>, which parquet stores as INT8 with its own dictionary/RLE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# PQ/IVF-PQ ADC scoring processes queries in blocks sized so the per-block
# (queries × batch_rows) sims matrix stays ~32 MB of float64 per worker —
# vectorized across queries without unbounded memory at the query cap.
_SCORE_BLOCK_CELLS = 4_000_000
_TOPK_SCHEMA = "query_id long, neighbor_id long, rank int, cosine_sim double"


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Adds per-row symmetric int8 quantization columns: scale = max|x|/127,
    qvec[i] = round(x[i]/scale) as tinyint. A zero vector gets scale 0 and an
    all-zero qvec (the conditional avoids a divide-by-zero under ANSI mode);
    dequantization maps it back to the zero vector exactly. |q| <= 127 by
    construction, so the ANSI tinyint cast can never overflow."""
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    # The scale is materialized as its OWN column first and only the column
    # reference enters the transform lambda: Spark does not hoist
    # loop-invariant subtrees out of HOF lambdas, so inlining `maxabs` in the
    # body would re-run the full array_max for every element — O(d²) per row
    # (~1536× redundant work at production dims). CollapseProject keeps the
    # projections separate because the alias is non-cheap and referenced
    # twice (condition + lambda); test_scale_ops pins one array_max in the
    # optimized plan. Same pattern as dedup.shingles_from_tokens.
    out = df.withColumn(scale_col, maxabs / F.lit(127.0))
    scale = F.col(scale_col)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x.cast("double") / scale).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return out.withColumn(qvec_col, q)


def dequantize_embeddings(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
    out_col: str = "embedding_deq",
) -> DataFrame:
    """Reconstructs array<double> from (qvec, scale): x̂[i] = q[i]·scale.
    Max per-element error is scale/2 (half a quantization step)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)
        ),
    )


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k_per_sub: int = 64,
    sample: int = 4096,
    iters: int = 10,
) -> list:
    """Trains product-quantization codebooks: the vector is split into `m`
    subspaces and each gets `k_per_sub` k-means centroids (Lloyd, seeded and
    deterministic: init = first k distinct vectors of the `sample`-row
    similarity.hash_sample). Vectors are L2-normalized BEFORE
    training/encoding so ADC inner products approximate cosine directly.

    Returns codebooks as a nested list [m][k_per_sub][dims/m] — plain data,
    broadcast via task closures like the matmul path's query matrix. The
    driver-side collect is the bounded `sample`, never the corpus."""
    import numpy as np

    from schemamap_spark.operators.similarity import hash_sample

    rows = hash_sample(df, sample, id_col, vec_col)
    if not rows:
        # fail the contract loudly, not with an opaque numpy argmin error
        raise ValueError(
            "pq_train: no finite nonzero-norm vectors in input — zero vectors "
            "have no direction to encode (same contract as cosine_topk)"
        )
    X = np.array(rows, dtype=np.float64)
    dims = X.shape[1]
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    dsub = dims // m
    books = []
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        uniq = np.unique(sub, axis=0)
        k = min(k_per_sub, len(uniq))
        cent = uniq[:k].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books.append([[float(x) for x in c] for c in cent])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encodes each (L2-normalized) vector as `m` small codes — (id, codes
    array<smallint>). ~dims·4/m bytes → m bytes per vector at k<=256. A
    narrow mapInPandas (no shuffle); zero-norm vectors are dropped (they have
    no direction to encode — same contract as cosine_topk)."""
    import numpy as np

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    m = len(books)
    out_schema = f"{id_col} long, codes array<smallint>"

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(X, axis=1)
            keep = nrm > 0
            if not keep.any():
                continue
            X = X[keep] / nrm[keep, None]
            codes = np.empty((X.shape[0], m), dtype=np.int16)
            for s, cent in enumerate(books):
                sub = X[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[keep], "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(gen, schema=out_schema)


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 5,
    rerank: int = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): each query
    builds an m×k lookup table of subspace inner products against the
    codebooks once, then every corpus vector scores as m table gathers —
    never touching the original floats. Candidate traffic mirrors the BLAS
    matmul path: per-batch tie-inclusive top-(k+1) rows only.

    rerank=R (with `corpus`) re-scores the top R·k ADC candidates with exact
    cosine — the production two-stage shape: PQ narrows 10⁹ vectors to R·k
    ids, the exact pass reads only those vectors. Output matches cosine_topk:
    (query_id, neighbor_id, rank, cosine_sim round6) with cosine_sim the ADC
    approximation when rerank=0."""
    import numpy as np

    from schemamap_spark.operators.similarity import collect_bounded_queries

    if rerank and corpus is None:
        raise ValueError("rerank > 0 requires the original corpus frame")
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    m = len(books)
    q_rows = collect_bounded_queries(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "pq_topk",
    )
    spark = codes.sparkSession
    if not q_rows:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    q_ids, luts = [], []
    for r in q_rows:
        qv = np.asarray(r.q_vec, dtype=np.float64)
        n = np.linalg.norm(qv)
        if n == 0 or not np.isfinite(n):
            continue
        qv = qv / n
        # list (not a stacked matrix): subspace codebooks may have fewer
        # centroids than k_per_sub when the sample's distinct values cap k
        luts.append([books[s] @ qv[s * dsub : (s + 1) * dsub] for s in range(m)])
        q_ids.append(r.query_id)
    nq = len(q_ids)
    if nq == 0:
        # every query was zero-norm/non-finite — np.stack below would raise
        return spark.createDataFrame([], _TOPK_SCHEMA)
    take = (rerank * k if rerank else k) + 1
    # The LUTs are batch-INVARIANT: stack them per subspace once on the
    # driver — (nq, k_s) each — so every batch scores ALL queries with one
    # fancy-index gather per subspace instead of a Python loop over queries
    # (the per-query loop re-scanned the batch nq times; measured headroom
    # at >=1k queries in SCALE.md). Queries score in blocks to bound the
    # (block, n) sims matrix regardless of nq.
    luts_stacked = [np.stack([luts[qi][s] for qi in range(nq)]) for s in range(m)]
    qid_arr = np.asarray(q_ids, dtype=np.int64)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            ids = pdf[id_col].to_numpy()
            n = C.shape[0]
            kk = min(take, n)
            blk = max(1, _SCORE_BLOCK_CELLS // max(n, 1))
            for q0 in range(0, nq, blk):
                q1 = min(q0 + blk, nq)
                sims = np.zeros((q1 - q0, n))
                for s in range(m):
                    sims += luts_stacked[s][q0:q1][:, C[:, s]]
                if n > kk:
                    cutoff = np.partition(sims, n - kk, axis=1)[:, n - kk]
                else:
                    cutoff = np.full(q1 - q0, -np.inf)
                qi_idx, row_idx = np.nonzero(sims >= cutoff[:, None])
                yield pd.DataFrame(
                    {
                        "query_id": qid_arr[q0:q1][qi_idx],
                        "neighbor_id": ids[row_idx],
                        "sim": sims[qi_idx, row_idx],
                    }
                )

    scored = codes.mapInPandas(
        gen, schema=f"query_id long, neighbor_id long, sim double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    return _adc_rank(scored, k, rerank, queries, corpus, id_col, vec_col)


def _adc_rank(
    scored: DataFrame,
    k: int,
    rerank: int,
    queries: DataFrame,
    vectors: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The tail pq_topk and ivf_pq_search_encoded share: rank the ADC
    scores; with rerank=R, re-score each query's top R·k ADC candidates with
    the exact pair score (similarity.rerank_sim) and rank those."""
    from schemamap_spark.operators.similarity import _side, rank_topk, rerank_sim

    if not rerank:
        return rank_topk(scored, k)
    cands = rank_topk(scored, rerank * k, ordered=False).select("query_id", "neighbor_id")
    q = _side(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm")
    c = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    pairs = cands.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
    return rank_topk(rerank_sim(pairs), k)


def ivf_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "sample",
) -> list:
    """The one coarse-centroid trainer (ivf_topk, ivf_pq_topk,
    ann_index_build), returned L2-normalized as plain nested lists so they
    persist next to the codebooks (ann_index meta).

    'sample': the first `num_centroids` finite nonzero vectors in
    (xxhash64(id), id) order (similarity.hash_sample — the rule
    cosine_near_pairs and pq_train sample by too); cheap, one bounded
    collect. 'kmeans': Spark ML k-means (clustering.kmeans_fit). On
    clustered corpora sampled centroids are what make routing miss cells
    (the 220k probe: routing, not PQ resolution, binds recall); k-means
    costs one extra training pass at build time only — ann_index appends
    and searches just read the recorded centers.

    Centres are normalized because ivf_pq_encode assigns a cell by argmax of
    the dot against UNIT corpus vectors — unnormalized centres would bias
    routing toward long centroids; ivf_topk's cosine argmax ignores scale."""
    import numpy as np

    if centroids == "kmeans":
        from schemamap_spark.operators.clustering import kmeans_fit

        cents = kmeans_fit(corpus, k=num_centroids, vec_col=vec_col).clusterCenters()
    elif centroids == "sample":
        from schemamap_spark.operators.similarity import hash_sample

        cents = hash_sample(corpus, num_centroids, id_col, vec_col)
    else:
        raise ValueError(
            f"unknown centroids method {centroids!r} (use 'sample' or 'kmeans')"
        )
    if not len(cents):
        return []
    C = np.array(cents, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return [[float(x) for x in c] for c in C]


def ivf_pq_encode(
    corpus: DataFrame,
    codebooks: list,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-pass IVF-PQ corpus encoding: (id, cell, codes) — the persistable
    index payload (~m bytes + 4 per vector). Pure function of
    (corpus, codebooks, centroids): a NEW batch encoded later with the SAME
    models lands in the same cells with the same codes, which is what makes
    the index store appendable. Zero-norm vectors drop (no direction)."""
    import numpy as np

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    m = len(books)
    C = np.array(centroids, dtype=np.float64)

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(X, axis=1)
            keep = nrm > 0
            if not keep.any():
                continue
            X = X[keep] / nrm[keep, None]
            cells = (X @ C.T).argmax(axis=1).astype(np.int32)
            codes = np.empty((X.shape[0], m), dtype=np.int16)
            for s, cent in enumerate(books):
                sub = X[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[keep],
                    "cell": cells,
                    "codes": list(codes),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} long, cell int, codes array<smallint>"
    )


def ivf_pq_search_encoded(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list,
    centroids: list,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 0,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search over a PRE-ENCODED (id, cell, codes) frame — the scoring
    tail of ivf_pq_topk, split out so a persisted index store
    (operators/ann_index.py) can search without re-encoding the corpus.
    rerank=R needs the raw `vectors` (id, embedding) to re-score the top
    R·k survivors exactly; passing rerank without vectors raises."""
    import numpy as np

    from schemamap_spark.operators.similarity import collect_bounded_queries

    if rerank and vectors is None:
        raise ValueError("rerank requires the raw `vectors` frame (id, embedding)")
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    m = len(books)
    C = np.array(centroids, dtype=np.float64)
    ncells = C.shape[0]
    nprobe = min(nprobe, ncells)

    q_rows = collect_bounded_queries(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "ivf_pq_topk",
    )
    spark = encoded.sparkSession
    if not q_rows:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    q_ids, luts, probes = [], [], []
    for r in q_rows:
        qv = np.asarray(r.q_vec, dtype=np.float64)
        n = np.linalg.norm(qv)
        if n == 0 or not np.isfinite(n):
            continue
        qv = qv / n
        q_ids.append(r.query_id)
        luts.append([books[s] @ qv[s * dsub : (s + 1) * dsub] for s in range(m)])
        probes.append(set(np.argsort(-(C @ qv))[:nprobe].tolist()))
    nq = len(q_ids)
    if nq == 0:
        # every query was zero-norm/non-finite — np.stack below would raise
        return spark.createDataFrame([], _TOPK_SCHEMA)
    take = (rerank * k if rerank else k) + 1
    # Batch-invariant driver-side precompute (same shape as pq_topk): stacked
    # per-subspace LUTs, plus the cell→probing-queries inversion so each
    # batch sorts by cell ONCE and scores every probed (cell, query-block)
    # with stacked gathers — no per-query np.isin scan over the batch. The
    # per-(query, cell) tie-inclusive top-take is a superset of the old
    # per-(query, batch) cut, so the global window sees every true winner
    # and the final ranking is unchanged (full-probe == pq_topk test pins it).
    luts_stacked = [np.stack([luts[qi][s] for qi in range(nq)]) for s in range(m)]
    qid_arr = np.asarray(q_ids, dtype=np.int64)
    cell_queries = [
        np.array([qi for qi in range(nq) if c in probes[qi]], dtype=np.int64)
        for c in range(ncells)
    ]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            cells = pdf["cell"].to_numpy()
            order = np.argsort(cells, kind="stable")
            Cd = np.stack(pdf["codes"].to_numpy()).astype(np.int64)[order]
            ids = pdf[id_col].to_numpy()[order]
            cells = cells[order]
            present = np.unique(cells)
            starts = np.searchsorted(cells, present, side="left")
            ends = np.searchsorted(cells, present, side="right")
            for c, lo, hi in zip(present, starts, ends):
                qsel = cell_queries[c] if 0 <= c < ncells else None
                if qsel is None or qsel.size == 0:
                    continue
                sub = Cd[lo:hi]
                n = hi - lo
                kk = min(take, n)
                blk = max(1, _SCORE_BLOCK_CELLS // max(n, 1))
                for b0 in range(0, qsel.size, blk):
                    qb = qsel[b0 : b0 + blk]
                    sims = np.zeros((qb.size, n))
                    for s in range(m):
                        sims += luts_stacked[s][qb][:, sub[:, s]]
                    if n > kk:
                        cutoff = np.partition(sims, n - kk, axis=1)[:, n - kk]
                    else:
                        cutoff = np.full(qb.size, -np.inf)
                    qi_idx, row_idx = np.nonzero(sims >= cutoff[:, None])
                    yield pd.DataFrame(
                        {
                            "query_id": qid_arr[qb][qi_idx],
                            "neighbor_id": ids[lo:hi][row_idx],
                            "sim": sims[qi_idx, row_idx],
                        }
                    )

    scored = encoded.mapInPandas(
        gen, schema="query_id long, neighbor_id long, sim double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    return _adc_rank(scored, k, rerank, queries, vectors, id_col, vec_col)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "sample",
) -> DataFrame:
    """IVF-PQ: the composed billion-vector shape — coarse centroid routing
    (IVF) over PQ-compressed codes (ADC). Each corpus vector is assigned to
    its nearest coarse centroid at encode time; a query ADC-scores ONLY the
    rows in its `nprobe` nearest cells, so scored work drops ~nprobe/C on
    top of PQ's per-row byte cut. Two approximations stack (cell routing may
    miss a boundary neighbor, ADC quantizes the scores); rerank=R re-scores
    the top R·k survivors with exact cosine like pq_topk.

    Pure composition since round 5: coarse centroids (hash-ordered sample,
    or a trained k-means router with centroids='kmeans' — same option as
    ann_index_build/ivf_topk; the 220k probe shows the trained router
    halves the nprobe needed for a given recall on clustered corpora) →
    ivf_pq_encode (one-pass cell+codes) → ivf_pq_search_encoded (stacked
    ADC). Callers that want a PERSISTED index use operators/ann_index.py,
    which composes the same three pieces around a parquet store."""
    cents = ivf_centroids(corpus, num_centroids, id_col, vec_col, centroids)
    encoded = ivf_pq_encode(corpus, codebooks, cents, id_col, vec_col)
    return ivf_pq_search_encoded(
        encoded, queries, codebooks, cents, k, nprobe, rerank,
        vectors=corpus, id_col=id_col, vec_col=vec_col,
    )


def truncate_embeddings(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    out_col: str = "embedding_trunc",
    renormalize: bool = True,
) -> DataFrame:
    """Matryoshka truncation (MRL, Kusupati et al. 2022, public paper): keep
    the first `dims` coordinates of an MRL-trained embedding — the cheapest
    rung of the compression ladder (a pure slice, before int8/PQ), cutting
    both store bytes and every downstream distance computation by d/dims.

    With renormalize=True the slice is L2-renormalized so cosine/dot
    rankings stay directly comparable. The prefix norm is materialized as
    its own column before the division lambda (the quantize_embeddings
    hoisting rule — inlining it would re-run the O(dims) norm per element).
    Zero-norm prefixes pass through unnormalized (renormalizing would
    divide by zero; callers filter like cosine_topk already does)."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    sliced = F.slice(F.col(vec_col), 1, dims)
    if not renormalize:
        return df.withColumn(out_col, sliced)
    norm_col = f"__{out_col}_norm"
    out = df.withColumn(out_col, sliced).withColumn(
        norm_col,
        F.sqrt(
            F.aggregate(
                F.col(out_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
    )
    nrm = F.col(norm_col)
    return out.withColumn(
        out_col,
        F.when(
            nrm > 0,
            F.transform(F.col(out_col), lambda x: x.cast("double") / nrm),
        ).otherwise(F.col(out_col).cast("array<double>")),
    ).drop(norm_col)


def embedding_outliers(
    df: DataFrame,
    k: int = 16,
    z_threshold: float = 3.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Distributional outlier flagging for embedding curation: assign every
    vector to a k-means cluster, measure its distance to the centroid, and
    z-score that distance WITHIN its cluster. Output: (id, cluster_id,
    dist, z, is_outlier) — mislabeled/garbage/off-distribution vectors land
    in the tail of their own cluster, which a global distance threshold
    would miss (clusters have different radii).

    Scale shape: centroids are a tiny broadcast map (k × d literals via the
    fitted model); distance is a per-row Column reduction; the z-score
    needs one (cluster_id)-keyed aggregation of 3 doubles — no vector ever
    shuffles. Degenerate clusters (stddev 0: singletons or exact
    duplicates) produce z = 0, never a division error."""
    from pyspark.ml.functions import array_to_vector

    from schemamap_spark.operators.clustering import kmeans_fit

    # ONE fit: assignments come from model.transform of the SAME fitted
    # model whose clusterCenters() provide the distances — a second fit (as
    # kmeans_clusters would do) doubles the expensive step and would pair
    # centers from fit #1 with assignments from fit #2
    model = kmeans_fit(df, k, vec_col, seed)
    centers = model.clusterCenters()
    # centroid lookup as a literal map column: array<array<double>> indexed
    # by cluster_id — k*d literals, fine for dashboard-scale k
    centers_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centers]
    )
    feat = df.select(id_col, vec_col).withColumn(
        "__features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    with_vec = model.transform(feat).select(
        id_col, F.col("prediction").alias("cluster_id"), vec_col
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.element_at(centers_lit, F.col("cluster_id") + 1),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = with_vec.select(id_col, "cluster_id", dist.alias("dist"))
    stats = scored.groupBy("cluster_id").agg(
        F.avg("dist").alias("__mu"), F.stddev_pop("dist").alias("__sd")
    )
    z = F.when(
        F.col("__sd") > 0, (F.col("dist") - F.col("__mu")) / F.col("__sd")
    ).otherwise(F.lit(0.0))
    return (
        scored.join(F.broadcast(stats), "cluster_id")
        .select(
            id_col,
            "cluster_id",
            F.round("dist", 6).alias("dist"),
            F.round(z, 6).alias("z"),
            (z > z_threshold).alias("is_outlier"),
        )
    )
