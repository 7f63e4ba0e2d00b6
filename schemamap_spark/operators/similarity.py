"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — the correctness baseline. The query
  set is broadcast; each executor scans its slice of the corpus once and
  emits per-partition top-k via window ranking. All math is JVM-side
  (zip_with/aggregate in double precision).
- lsh_topk: random-hyperplane (signed random projection) LSH bucketing — the
  scale path. Vectors are bucketed by the sign pattern of `num_planes` fixed
  pseudo-random hyperplanes (deterministic, derived from xxhash64 of
  (plane, dim)); only same-bucket (or probing-neighbor) pairs are scored.
  Approximate: recall < 1 by construction; use cosine_topk to evaluate.
- ivf_topk: IVF-style two-stage search — coarse centroids
  (embeddings.ivf_centroids), vectors assigned to nearest centroid (one
  pass), queries scored only against the `nprobe` nearest centroids'
  partitions.

Every top-k operator here and in embeddings/retrieval shares one scoring
core: `_finite_nonzero` (the degenerate-vector contract), `pair_sim` (one
dot product per pair over per-row norms), `rerank_sim` (the same score at
candidate-rerank sites) and `rank_topk` (the one rank tail). Every
deterministic vector sample — cosine_near_pairs' cells, pq_train's training
set, ivf_centroids' 'sample' router — is `hash_sample`: the first n finite
nonzero vectors in (xxhash64(id), id) order.

At 100 TB: corpus stays partitioned, queries broadcast; no crossJoin of the
corpus with itself; bucket/centroid keys make the join shuffle-partitionable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Hard cap on how many QUERY rows the matmul/PQ scoring paths will pull to
# the driver (the query matrix / ADC LUTs ride to executors as task-closure
# broadcasts, so the query side must be bounded — ~65k × 1536 dims × 8 B ≈
# 0.8 GB is the sane ceiling). Past the cap the operator raises instead of
# OOMing the driver; batch the query side or use an id-partitioned self-join
# formulation for query sets that large.
MAX_DRIVER_QUERIES = 65_536


def collect_bounded_queries(q: DataFrame, what: str) -> list:
    """Collect the (small) query side, failing LOUDLY past MAX_DRIVER_QUERIES
    — collects at most cap+1 rows, so the guard itself never OOMs and costs
    no extra count job."""
    rows = q.limit(MAX_DRIVER_QUERIES + 1).collect()
    if len(rows) > MAX_DRIVER_QUERIES:
        raise ValueError(
            f"{what}: query side exceeds MAX_DRIVER_QUERIES={MAX_DRIVER_QUERIES}; "
            "the driver-side collect would risk an OOM. Split the query set "
            "into batches (results union cleanly) or flip corpus/query roles."
        )
    return rows


def _dot_sql(a: str, b: str) -> str:
    """The _dot expression as a SQL fragment over two column NAMES — one
    parser round-trip instead of the ~15 py4j calls each Column-built
    zip_with/aggregate lambda pair costs (the hybrid_rerank/ann builders
    evaluated 8+ dots per plan ≈ 0.2 s of pure driver wall, r18 profile).
    Identical expression semantics: same casts, same double-typed seed."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _dot(a, b) -> F.Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    if isinstance(a, str):
        return F.expr(f"sqrt({_dot_sql(a, a)})")
    return F.sqrt(_dot(a, a))


def cosine(a, b) -> F.Column:
    # try_divide: a zero-norm vector yields NULL (cosine undefined), not an
    # ANSI DIVIDE_BY_ZERO error; consumers drop NULL/NaN sims explicitly.
    # String operands take the one-round-trip SQL path (same expression).
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"try_divide({_dot_sql(a, b)}, "
            f"sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
        )
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


# The scoring core. A pair scores `try_divide(q·c, q_nrm * c_nrm)`:
# cosine()'s arithmetic in the same order, so sims, ranks and ties are
# bit-identical to it. Catalyst does not share lambda-bearing terms between
# expressions, so cosine() in a pair projection evaluates three dot products
# per pair; with the norms projected per row it is one. Where each norm is
# computed:
# - the query side (broadcast, small) projects q_nrm once per row (_side);
# - where each corpus row meets many queries (cosine_topk, lsh_topk,
#   ivf_topk and its centroid assignment) the corpus side projects c_nrm
#   per row before the join;
# - at candidate-rerank sites (the PQ reranks, hybrid_rerank_topk) each
#   corpus row meets few queries, so c_nrm is computed after the join
#   (rerank_sim) instead of for every corpus row.


def _finite_positive(sql: str) -> F.Column:
    """`sql` (a double) is finite and > 0, with ONE evaluation of it:
    finite-positive → 1/x positive (a denormal overflows to +inf, still
    > 0); 0 → try_divide NULL → false; +inf → 0.0 → false; NaN → nanvl→0 →
    NULL → false; NULL → NULL → false. The naive `(x > 0) & ~isnan(x) &
    (x < inf)` embeds x three times and codegen does not CSE a HOF dot
    product (measured 0.24s vs 0.17s per corpus pass at sf0.1). The nanvl is
    load-bearing: Spark SQL orders NaN GREATER than every numeric, so a bare
    `NaN > 0` is TRUE."""
    return F.expr(
        f"try_divide(cast(1.0 as double), nanvl({sql}, cast(0.0 as double))) > 0"
    )


def _finite_nonzero(name: str) -> F.Column:
    """The degenerate-vector contract every scorer applies: the squared norm
    of column `name` is finite and positive. Cosine is undefined for a zero
    vector, and a vector with a NaN or ±Inf element yields NaN sims, which
    Spark's desc sort ranks greatest — unfiltered, either would be every
    query's top neighbor. Applied per ROW before a join: a post-join filter
    on the computed sim is per PAIR, and ProjectCollapse inlines the whole
    score into each predicate reference (measured 2.4× wall on the sf0.1
    bench)."""
    return _finite_positive(_dot_sql(name, name))


def _side(
    df: DataFrame, id_col: str, vec_col: str, id_name: str, vec_name: str,
    nrm_name: str | None = None,
) -> DataFrame:
    """One side of a scoring join — (id_name, vec_name[, nrm_name]) — with
    finite nonzero vectors only, and the norm projected once per row when
    `nrm_name` is given."""
    side = df.select(
        F.col(id_col).alias(id_name), F.col(vec_col).alias(vec_name)
    ).filter(_finite_nonzero(vec_name))
    return side.select("*", _norm(vec_name).alias(nrm_name)) if nrm_name else side


def pair_sim(
    q_vec: str = "q_vec", c_vec: str = "c_vec",
    q_nrm: str = "q_nrm", c_nrm: str = "c_nrm",
) -> F.Column:
    """The one pair score, `try_divide(q·c, q_nrm * c_nrm)`, over column
    names (a norm may also be a SQL expression)."""
    return F.expr(f"try_divide({_dot_sql(q_vec, c_vec)}, {q_nrm} * {c_nrm})")


def rerank_sim(pairs: DataFrame, doc: str = "neighbor_id") -> DataFrame:
    """(query_id, doc, sim) of candidate pairs carrying q_vec, q_nrm (a
    `_side` query) and c_vec, with the corpus norm computed after the join.
    The corpus contract is tested on the pair's denominator, which the query
    side has already passed: a predicate on c_vec alone would be pushed below
    the join onto the whole corpus scan."""
    c_nrm = f"sqrt({_dot_sql('c_vec', 'c_vec')})"
    return pairs.filter(_finite_positive(f"q_nrm * {c_nrm}")).select(
        "query_id", doc, pair_sim(c_nrm=c_nrm).alias("sim")
    )


def rank_topk(
    scored: DataFrame, k: int, doc: str = "neighbor_id", ordered: bool = True
) -> DataFrame:
    """The one rank tail: (query_id, doc, rank, cosine_sim round6) of each
    query's k best `sim`, ties broken by `doc`. Rank and rounded sim come
    from ONE projection (one analyzer pass fewer than withColumn → filter →
    select); the rank filter still reaches WindowGroupLimit below it.
    `ordered=False` skips the final (query_id, rank) sort."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), doc)
    out = scored.select(
        "query_id",
        doc,
        F.row_number().over(w).alias("rank"),
        F.round("sim", 6).alias("cosine_sim"),
    ).filter(F.col("rank") <= k)
    return out.orderBy("query_id", "rank") if ordered else out


def hash_sample(df: DataFrame, n: int, id_col: str, vec_col: str) -> list:
    """The one deterministic vector sample: the first `n` finite nonzero
    vectors in (xxhash64(id), id) order, as plain float lists. Hash order,
    NOT first-N by id: on id-clustered data (all of cluster 0 first, …)
    first-N puts every pick in one cluster; hash order is a uniform draw
    however ids were assigned. The driver collect is bounded by `n`."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .filter(_finite_nonzero("_v"))
        .orderBy(F.xxhash64("_id"), "_id")
        .limit(n)
        .collect()
    )
    return [[float(x) for x in r._v] for r in rows]


def cosine_near_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 16,
    stats: dict | None = None,
) -> DataFrame:
    """All vector pairs with cosine >= threshold (embedding near-duplicate
    detection), EXACT, via metric-pruned candidate generation — no broadcast
    of the corpus, no BroadcastNestedLoopJoin:

    1. deterministic centroid sample (`hash_sample`, `num_cells` vectors);
    2. every vector is assigned to its nearest centroid with a pure Column
       expression (centroids inlined as literals — a narrow map, no shuffle)
       recording its angular distance `theta` to the centroid;
    3. per-cell radius r = max(theta); a cell pair (A, B) can contain a
       qualifying pair only if angle(centroid_A, centroid_B) <= acos(t) +
       r_A + r_B (triangle inequality on the unit sphere), so all other
       cell pairs are pruned LOSSLESSLY;
    4. surviving cell pairs drive an equi-join (shuffle-partitionable on the
       cell keys) and every candidate is verified with the exact cosine.

    Hyperplane-LSH banding (lsh_topk's machinery) is NOT usable here when
    exact output is required: at a margin of ~0.002 above the threshold the
    per-pair miss probability cannot be driven to 0 at any affordable
    band/table count. The metric prune is conservative (exact on any data);
    on clustered near-dup corpora — the real workload — it prunes most cell
    pairs. Skewed cells can additionally be salted before the verify join.

    Zero, NaN and ±Inf vectors pair with nothing (the `_finite_nonzero`
    contract; semantic_dedup keeps them as singletons). Angles are clamped
    before acos and a NULL/NaN theta (a norm product that under- or
    overflows) degrades to pi, which disables pruning for that vector
    rather than dropping pairs. A 1e-9 slack absorbs float round-off in the
    bound."""
    from schemamap_spark.session import ensure_parallelism

    spark = corpus.sparkSession
    base = _side(ensure_parallelism(corpus, id_col), id_col, vec_col, "vid", "v", "nrm")

    # hash order, not first-N by id: with every centroid in one cluster the
    # radii of the other cells approach pi and the triangle-inequality prune
    # stops firing (correct but near-all-pairs)
    cents = hash_sample(corpus, num_cells, id_col, vec_col)
    if not cents:
        return base.select(
            F.col("vid").alias("i"), F.col("vid").alias("j"),
            F.lit(0.0).alias("cosine_sim"),
        ).limit(0)
    cnorms = [math.sqrt(sum(x * x for x in c)) for c in cents]

    def _theta_to(c: list[float], cn: float) -> F.Column:
        dot = _dot(F.col("v"), F.array(*[F.lit(x) for x in c]))
        cos = F.try_divide(dot, F.col("nrm") * F.lit(cn))
        clamped = F.least(F.greatest(cos, F.lit(-1.0)), F.lit(1.0))
        theta = F.acos(clamped)
        return F.when(F.isnan(theta) | theta.isNull(), F.lit(math.pi)).otherwise(theta)

    choices = F.array(*[
        F.struct(_theta_to(c, cn).alias("theta"), F.lit(i).alias("cell"))
        for i, (c, cn) in enumerate(zip(cents, cnorms))
    ])
    assigned = base.select(
        "vid", "v", "nrm", F.array_min(choices).alias("best")
    ).select(
        "vid", "v", "nrm",
        F.col("best.cell").alias("cell"), F.col("best.theta").alias("theta"),
    )

    radii = assigned.groupBy("cell").agg(F.max("theta").alias("r"))

    def _cent_angle(a: int, b: int) -> float:
        dot = sum(x * y for x, y in zip(cents[a], cents[b]))
        return math.acos(max(-1.0, min(1.0, dot / (cnorms[a] * cnorms[b]))))

    cent_pairs = spark.createDataFrame(
        [
            (a, b, _cent_angle(a, b))
            for a in range(len(cents))
            for b in range(a, len(cents))
        ],
        "cell_a int, cell_b int, cent_theta double",
    )
    theta_t = math.acos(max(-1.0, min(1.0, threshold)))
    cell_pairs = (
        cent_pairs
        .join(F.broadcast(radii.select(F.col("cell").alias("cell_a"), F.col("r").alias("r_a"))), "cell_a")
        .join(F.broadcast(radii.select(F.col("cell").alias("cell_b"), F.col("r").alias("r_b"))), "cell_b")
        .filter(F.col("cent_theta") <= F.lit(theta_t) + F.col("r_a") + F.col("r_b") + F.lit(1e-9))
        .select("cell_a", "cell_b")
    )
    if stats is not None:
        # bookkeeping for tests/observability: num_cells^2-scale rows, cheap
        stats["total_cell_pairs"] = len(cents) * (len(cents) + 1) // 2
        stats["surviving_cell_pairs"] = cell_pairs.count()

    # candidate enumeration stays SLIM — only (vid, cell) rides the cell-pair
    # expansion; vectors are re-joined by id afterwards, so high-dimensional
    # payloads (1536-dim embeddings = ~12 KB/row) never ride the expanded join
    left = assigned.select(F.col("vid").alias("lvid"), F.col("cell").alias("cell_a"))
    right = assigned.select(F.col("vid").alias("rvid"), F.col("cell").alias("cell_b"))
    cand = (
        left.join(F.broadcast(cell_pairs), "cell_a")
        .join(right, "cell_b")
        # same-cell combos enumerate ordered pairs -> keep one; cross-cell
        # combos appear once via (min cell, max cell) -> normalize ids below
        .filter(
            (F.col("cell_a") < F.col("cell_b"))
            | ((F.col("cell_a") == F.col("cell_b")) & (F.col("lvid") < F.col("rvid")))
        )
        .select(
            F.least("lvid", "rvid").alias("i"),
            F.greatest("lvid", "rvid").alias("j"),
        )
    )
    vi = assigned.select(
        F.col("vid").alias("i"), F.col("v").alias("v_i"), F.col("nrm").alias("n_i")
    )
    vj = assigned.select(
        F.col("vid").alias("j"), F.col("v").alias("v_j"), F.col("nrm").alias("n_j")
    )
    return (
        cand.join(vi, "i")
        .join(vj, "j")
        .select("i", "j", pair_sim("v_i", "v_j", "n_i", "n_j").alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("i", "j", F.round("sim", 6).alias("cosine_sim"))
        .orderBy("i", "j")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "expr",
    ordered: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector (self excluded).

    Output: (query_id, neighbor_id, rank, cosine_sim round6).
    `ordered=False` skips the final (query_id, rank) orderBy — same rows
    and ranks, unspecified row order; use it when the result feeds a
    set-shaped consumer (candidate union, fusion, eval joins), where the
    global sort is a range Exchange the consumer immediately destroys.

    method="expr" (default): one zip_with/aggregate dot product per pair —
    all-JVM, whole-stage-codegen, ideal up to a few hundred dims. Each
    side's norm is projected once per ROW before the join (`pair_sim`), so
    sims, ranks and ties are bit-identical to `cosine()`.

    method="matmul": Arrow-batched numpy path — each corpus slice is scored
    against the whole query matrix with ONE BLAS matmul per batch, then only
    per-batch tie-inclusive top-(k+1) candidate rows leave Python. At
    production embedding widths (768–1536 dims) the expression tree costs
    planes of scalar ops per pair while BLAS does the same work at memory
    bandwidth; the candidate shuffle is O(partitions × queries × k), never
    O(corpus). Measured 1024 dims × 20k corpus × 64 queries, warm local[32]:
    expr 31.6s → matmul 0.84s, and matmul stays flat in query count.
    Same results as "expr" (modulo float summation order, ≤1 ulp).
    """
    from schemamap_spark.session import ensure_parallelism

    q = _side(queries, id_col, vec_col, "query_id", "q_vec")
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        "neighbor_id",
    ).filter(_finite_nonzero("c_vec"))
    if method == "matmul":
        scored = _matmul_candidates(c, q, k)
    elif method == "expr":
        scored = _expr_candidates(c, q)
    else:
        raise ValueError(f"unknown cosine_topk method: {method!r}")
    return rank_topk(scored, k, ordered=ordered)


def _expr_candidates(c: DataFrame, q: DataFrame) -> DataFrame:
    """Every non-self (query_id, neighbor_id, sim) pair, scored by one dot
    product per pair over per-row norms (`pair_sim`)."""
    q = q.select("*", _norm("q_vec").alias("q_nrm"))
    c = c.select("*", _norm("c_vec").alias("c_nrm"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_sim().alias("sim"))
    )


def _matmul_candidates(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Per-batch top-(k+1) candidate rows (query_id, neighbor_id, sim) via one
    numpy matmul per Arrow batch. The query matrix rides to executors as a
    task-closure broadcast — same bounded-small-side assumption as the expr
    path's F.broadcast(q). Tie-inclusive cutoff: every row whose sim equals
    the (k+1)-th best in the batch is emitted, so the global window's
    (desc sim, neighbor_id) tiebreak sees the full tie set and matches the
    expr path row for row. +1 covers the query's own corpus row, which is
    dropped after scoring."""
    import numpy as np

    q_rows = collect_bounded_queries(q, "cosine_topk(method='matmul')")
    out_schema = (
        f"query_id {q.schema['query_id'].dataType.simpleString()}, "
        f"neighbor_id {c.schema['neighbor_id'].dataType.simpleString()}, "
        "sim double"
    )
    spark = c.sparkSession
    if not q_rows:
        return spark.createDataFrame([], out_schema)
    q_ids = [r.query_id for r in q_rows]
    qm = np.array([r.q_vec for r in q_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    qn_t = qn.T  # (D, Q)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.stack(pdf["c_vec"].to_numpy()).astype(np.float64)
            ids = pdf["neighbor_id"]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (cm / np.linalg.norm(cm, axis=1, keepdims=True)) @ qn_t
            n = sims.shape[0]
            kk = min(k + 1, n)
            for qi, qid in enumerate(q_ids):
                col = sims[:, qi]
                # (k+1)-th largest as tie-inclusive cutoff; NaN (zero-norm
                # corpus rows) compares False and never survives the mask
                cutoff = np.partition(col, n - kk)[n - kk] if n > kk else -np.inf
                mask = col >= cutoff
                if not mask.any():
                    continue
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[mask].reset_index(drop=True),
                        "sim": col[mask],
                    }
                )

    return (
        c.mapInPandas(gen, schema=out_schema)
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


def _plane_weights(spark, num_planes: int, dims: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1):
    pmod(xxhash64(plane, dim), 10000)/5000 - 1, with plane/dim hashed as
    32-bit ints. pmod (not %) keeps the intermediate in [0, 10000) — signed %
    would span (-10000, 10000) and skew the distribution.

    Computed in one tiny vectorized Spark job (num_planes rows, the dims loop
    is a `transform` over a sequence) and collected: planes × dims values as
    DATA. The previous design inlined each weight as its own expression term,
    which meant ~25k Catalyst nodes at production scale (16 planes × 1536
    dims) — an analysis/codegen blowup before any data is read."""
    rows = (
        spark.range(num_planes)
        .select(F.col("id").cast("int").alias("p"))
        .select(
            "p",
            F.transform(
                F.sequence(F.lit(0), F.lit(dims - 1)),
                lambda d: F.pmod(F.xxhash64(F.col("p"), d), F.lit(10_000)).cast("double")
                / F.lit(5_000.0)
                - F.lit(1.0),
            ).alias("w"),
        )
        .orderBy("p")
        .collect()
    )
    return [[float(x) for x in r.w] for r in rows]


def _bucket_col(vec: F.Column, weights: F.Column) -> F.Column:
    """Signature bucket from a weights column (array<array<double>>, one inner
    array per hyperplane). Constant expression-node count regardless of
    planes/dims: the projections are higher-order-function lambdas over the
    weights data, so 1536-dim × 16-plane embeddings plan as fast as the 64-dim
    fixture."""
    proj_bits = F.transform(
        weights,
        lambda wp: F.when(
            F.aggregate(
                F.zip_with(vec, wp, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # bucket id = sum(bit_p * 2^p); fold MSB-first so plane 0 lands in the LSB,
    # matching the historical unrolled formula bit for bit. The coalesce
    # (never taken: weights are never NULL) types the bucket non-null, so a
    # join's inferred isnotnull(bucket) is not a second evaluation per row.
    return F.coalesce(
        F.aggregate(F.reverse(proj_bits), F.lit(0).cast("long"), lambda acc, b: acc * 2 + b),
        F.lit(0).cast("long"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: only candidates sharing the query's hyperplane-sign
    bucket are scored. Same output schema as cosine_topk.

    multi_probe=1 additionally probes every bucket at Hamming distance 1 from
    the query's signature (flip each of the num_planes sign bits) — the
    standard multi-probe LSH recall boost: vectors near a hyperplane fall on
    either side, so the adjacent buckets hold most of the missed neighbors.
    Cost: the broadcast query list grows ×(num_planes+1); the corpus is
    still hashed and scanned once."""
    from schemamap_spark.session import ensure_parallelism

    spark = corpus.sparkSession
    weights = _plane_weights(spark, num_planes, dims)
    # weights ride as one broadcast row of DATA (200 KB at 16×1536 doubles),
    # not as inline expression nodes
    wdf = F.broadcast(spark.createDataFrame([(weights,)], "W array<array<double>>"))

    c = _side(
        ensure_parallelism(corpus, id_col), id_col, vec_col, "neighbor_id", "c_vec", "c_nrm"
    ).crossJoin(wdf).select(
        "neighbor_id", "c_vec", "c_nrm", _bucket_col(F.col("c_vec"), F.col("W")).alias("bucket")
    )
    q = _side(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm").crossJoin(wdf).select(
        "query_id", "q_vec", "q_nrm", _bucket_col(F.col("q_vec"), F.col("W")).alias("bucket")
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(2**p)) for p in range(num_planes)
            ],
        )
        q = q.select(
            "query_id", "q_vec", "q_nrm", F.explode(probes).alias("bucket")
        )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_sim().alias("sim"))
        .distinct()  # a neighbor can surface via several probes
    )
    return rank_topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "sample",
) -> DataFrame:
    """IVF-style ANN: centroids (embeddings.ivf_centroids: the hash-ordered
    sample, or k-means with centroids='kmeans') → nearest-centroid
    assignment → queries probe `nprobe` closest centroid partitions."""
    from schemamap_spark.operators.embeddings import ivf_centroids

    cents = ivf_centroids(corpus, num_centroids, id_col, vec_col, centroids)
    # a literal frame of collected centres: ids from monotonically_increasing_id
    # over a lazily re-evaluated plan could differ between the two assign()
    # passes. Their norms ride in it, projected once per centroid.
    centb = F.broadcast(
        corpus.sparkSession.createDataFrame(
            list(enumerate(cents)), "centroid_id long, cent_vec array<double>"
        ).select("*", _norm("cent_vec").alias("cent_nrm"))
    )

    def assign(df: DataFrame, idname: str, vec: str, nrm: str, n: int) -> DataFrame:
        scored = df.crossJoin(centb).select(
            "*", pair_sim(vec, "cent_vec", nrm, "cent_nrm").alias("cent_sim")
        )
        w = Window.partitionBy(idname).orderBy(F.desc("cent_sim"), "centroid_id")
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= n)
            .drop("cent_vec", "cent_nrm", "cent_sim", "crank")
        )

    c = assign(
        _side(corpus, id_col, vec_col, "neighbor_id", "c_vec", "c_nrm"),
        "neighbor_id", "c_vec", "c_nrm", 1,
    )
    q = assign(
        _side(queries, id_col, vec_col, "query_id", "q_vec", "q_nrm"),
        "query_id", "q_vec", "q_nrm", nprobe,
    )
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_sim().alias("sim"))
        .distinct()
    )
    return rank_topk(scored, k)


def topk_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact one:
    (query_id, n_exact, n_hit, recall round6). Both inputs are cosine_topk-
    shaped (query_id, neighbor_id, ...). The evaluation loop for tuning
    num_planes / multi_probe / nprobe: run cosine_topk (or its matmul path)
    on a sample of queries, the approximate variant on the same sample, and
    read macro recall off this frame.

    Queries the approximate index returned NOTHING for still appear (n_hit
    0) via the left join from the exact side — silently dropping them would
    overstate recall exactly where the index is worst."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    hits = e.join(a, ["query_id", "neighbor_id"], "left_semi")
    n_exact = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 16,
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop every document whose
    embedding is within `threshold` cosine of another, keeping ONE
    representative (the min-id node) per near-duplicate component.

    Composition of two already-scale-proven pieces — cosine_near_pairs
    (EXACT metric-pruned pair generation: centroid cells + spherical
    triangle-inequality pruning, no corpus broadcast) and
    connected_components (min-label propagation) — so the whole operator
    inherits their 100 TB posture: candidate traffic rides (cell, id) keys,
    raw vectors never shuffle wider than an id join, components converge in
    ~diameter rounds. Transitivity note: components CHAIN (a~b, b~c groups
    {a,b,c} even if cos(a,c) < threshold) — that is the standard SemDeDup
    semantics; pass stats={} to inspect `pairs`/`groups` when auditing.

    Returns the corpus rows that survive, original schema unchanged."""
    pairs = cosine_near_pairs(
        corpus, threshold, id_col=id_col, vec_col=vec_col, num_cells=num_cells
    )
    if stats is not None:
        stats["pairs"] = pairs
    from schemamap_spark.operators.graph import connected_components

    groups = connected_components(pairs)
    if stats is not None:
        stats["groups"] = groups
    non_reps = groups.filter(F.col("node") != F.col("group_id")).select(
        F.col("node").alias(id_col)
    )
    return corpus.join(non_reps, id_col, "left_anti")
