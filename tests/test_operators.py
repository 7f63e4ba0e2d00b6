"""Dedup / similarity / graph / text / multimodal operator tests (sf0.001)."""

from __future__ import annotations

from pyspark.sql import functions as F

from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR
from schemamap_spark.operators import dedup as DD
from schemamap_spark.operators import similarity as SIM
from schemamap_spark.operators.graph import transitive_closure
from schemamap_spark.session import load_table

from conftest import SF001 as SF


def test_jaccard_equals_minhash(spark):
    """Prefix-filtered exact jaccard and LSH+verify must agree (both exact)."""
    docs = load_table(spark, SF, "documents")
    a = {(r.i, r.j) for r in DD.jaccard_similar_pairs(docs, 0.5).collect()}
    b = {(r.i, r.j) for r in DD.minhash_lsh_similar_pairs(docs, 0.5).collect()}
    assert a == b


def test_simhash_finds_neardups(spark):
    docs = load_table(spark, SF, "documents")
    sim = {(r.i, r.j) for r in DD.simhash_near_pairs(docs, 3).collect()}
    jac = {(r.i, r.j) for r in DD.jaccard_similar_pairs(docs, 0.8).collect()}
    # simhash(≤3 bits) should recover a large share of the 0.8-jaccard dups
    if jac:
        assert len(sim & jac) / len(jac) >= 0.5


def test_simhash_banding_generalizes(spark):
    """The chunk count derives from max_hamming (pigeonhole holds for any
    budget); a larger budget must be a superset of a smaller one, and
    out-of-range budgets are rejected instead of silently losing pairs."""
    import pytest

    docs = load_table(spark, SF, "documents").limit(200)
    h3 = {(r.i, r.j) for r in DD.simhash_near_pairs(docs, 3).collect()}
    h7 = {(r.i, r.j) for r in DD.simhash_near_pairs(docs, 7).collect()}
    assert h3 <= h7
    with pytest.raises(ValueError):
        DD.simhash_near_pairs(docs, 32)
    with pytest.raises(ValueError):
        DD.simhash_near_pairs(docs, -1)


def test_lsh_buckets_match_committed_golden(spark):
    """Live hyperplane-LSH bucket ids over sf0.01 must equal the committed
    golden parquet — drift in the weight derivation or projection fold shows
    up here (and in the driver's ann_lsh_cosine hash check) immediately."""
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    weights = SIM._plane_weights(spark, 8, 64)
    wdf = F.broadcast(spark.createDataFrame([(weights,)], "W array<array<double>>"))
    live = {
        r.vec_id: r.bucket
        for r in emb.crossJoin(wdf)
        .select("vec_id", SIM._bucket_col(F.col("embedding"), F.col("W")).alias("bucket"))
        .collect()
    }
    golden = {
        r.vec_id: r.bucket
        for r in spark.read.parquet(
            f"{DEFAULT_FIXTURE_DIR}/lsh_buckets_sf0_01.parquet"
        ).collect()
    }
    assert live == golden and len(golden) > 0


def test_simhash_fingerprints_match_committed_golden(spark):
    """Live fingerprints over sf0.01 must equal the committed golden parquet
    byte-for-byte — any drift in shingling, xxhash64 use, or bit voting shows
    up here (and in the driver's dedup_simhash hash check) immediately."""
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    live = {
        r.doc_id: r.simhash
        for r in DD.simhash_fingerprints(docs, k=3).collect()
    }
    golden = {
        r.doc_id: r.simhash
        for r in spark.read.parquet(
            f"{DEFAULT_FIXTURE_DIR}/simhash_sf0_01.parquet"
        ).collect()
    }
    assert live == golden and len(golden) > 0


def test_exact_duplicates_on_constructed_dups(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    both = docs.unionByName(dup)
    groups = DD.exact_duplicates(both).collect()
    assert len(groups) == 20
    assert all(g.dup_count == 2 for g in groups)


def test_cosine_topk_selfconsistency(spark):
    emb = load_table(spark, SF, "embeddings")
    out = SIM.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=4).collect()
    assert len(out) == 12
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        sims = [r.cosine_sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_topk_is_subset_quality(spark):
    """LSH results exist and never beat exact top-1."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {r.query_id: r.cosine_sim for r in SIM.cosine_topk(emb, q, k=1).collect()}
    approx = SIM.lsh_topk(emb, q, k=1).collect()
    for r in approx:
        assert r.cosine_sim <= exact[r.query_id] + 1e-9


def test_ivf_topk_runs(spark):
    emb = load_table(spark, SF, "embeddings")
    out = SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3).collect()
    assert 0 < len(out) <= 9


def test_cosine_topk_matmul_matches_expr(spark):
    """The BLAS path is the same exact operator: identical (query, neighbor,
    rank) rows, sims equal to well inside round6."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    expr_rows = SIM.cosine_topk(emb, q, k=5).collect()
    mm_rows = SIM.cosine_topk(emb, q, k=5, method="matmul").collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in expr_rows} == {
        (r.query_id, r.neighbor_id, r.rank) for r in mm_rows
    }
    mm = {(r.query_id, r.neighbor_id): r.cosine_sim for r in mm_rows}
    for r in expr_rows:
        assert abs(mm[(r.query_id, r.neighbor_id)] - r.cosine_sim) < 1e-6


def test_cosine_topk_matmul_at_production_dims(spark):
    """768-dim: both methods stay exact; matmul is the intended plan there
    (one BLAS multiply per Arrow batch vs ~1.5k scalar ops per pair)."""
    import numpy as np

    DIMS = 768
    rng = np.random.RandomState(7)
    # distinct random vectors: duplicate rows would tie sims exactly, and the
    # matmul path's batched-BLAS summation order may then break the tie
    # differently than the expr fold (documented ≤1-ulp variance)
    vecs = [(i, rng.uniform(-1, 1, DIMS).tolist()) for i in range(110)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)
    expr_rows = SIM.cosine_topk(emb, q, k=4).collect()
    mm_rows = SIM.cosine_topk(emb, q, k=4, method="matmul").collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in expr_rows} == {
        (r.query_id, r.neighbor_id, r.rank) for r in mm_rows
    }


def _ranked_topk_ops(dims: int) -> dict:
    """Every ranked top-k operator as op(emb, queries, k) → (query_id,
    neighbor/doc id, rank, cosine_sim), configured so that on a handful of
    `dims`-wide vectors each one scores every non-self pair: one LSH plane
    probed both ways, every IVF cell probed, PQ reranks deeper than the
    corpus, and a hybrid candidate set of all pairs."""
    from schemamap_spark.operators.embeddings import (
        ivf_pq_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )
    from schemamap_spark.operators.retrieval import hybrid_rerank_topk

    def pq(emb, q, k):
        books = pq_train(emb, m=1, k_per_sub=2)
        return pq_topk(pq_encode(emb, books), q, books, k=k, rerank=4, corpus=emb)

    def ivf_pq(emb, q, k):
        books = pq_train(emb, m=1, k_per_sub=2)
        return ivf_pq_topk(emb, q, books, k=k, num_centroids=2, nprobe=2, rerank=4)

    def hybrid(emb, q, k):
        every = q.select(F.col("vec_id").alias("query_id")).crossJoin(
            emb.select(F.col("vec_id").alias("doc_id"))
        )
        return hybrid_rerank_topk([every], emb, q, k=k)

    return {
        "cosine_topk": lambda emb, q, k: SIM.cosine_topk(emb, q, k=k),
        "cosine_topk_matmul": lambda emb, q, k: SIM.cosine_topk(
            emb, q, k=k, method="matmul"
        ),
        "lsh_topk": lambda emb, q, k: SIM.lsh_topk(
            emb, q, k=k, num_planes=1, dims=dims, multi_probe=1
        ),
        "ivf_topk": lambda emb, q, k: SIM.ivf_topk(
            emb, q, k=k, num_centroids=2, nprobe=2
        ),
        "pq_topk_rerank": pq,
        "ivf_pq_topk_rerank": ivf_pq,
        "hybrid_rerank_topk": hybrid,
    }


def test_cosine_topk_zero_vector_never_ranks(spark):
    """cosine(0, x) is undefined (NaN); Spark sorts NaN greatest, so without
    the zero-norm drop a zero vector would be everyone's top neighbor. The
    drop happens per side BEFORE the join (per-row norm predicate) — a
    post-join filter on the computed sim would make ProjectCollapse inline
    the cosine aggregate into each predicate (~3× evaluation, the round-3
    2.4× bench regression). Zero-norm QUERY vectors are likewise dropped:
    they'd produce all-NaN sims, i.e. k arbitrary neighbors. The contract
    holds for every ranked top-k operator, not just cosine_topk."""
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (99, [0.0, 0.0])]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin(0, 99))
    for name, op in _ranked_topk_ops(2).items():
        rows = op(emb, q, 3).collect()
        assert [r[1] for r in rows] == [1, 2], (name, rows)
        assert all(r.query_id == 0 for r in rows), (name, rows)


def test_cosine_near_pairs_prunes_on_id_clustered_ids(spark):
    """Adversarial id ordering: ids are assigned cluster-by-cluster, so a
    first-N-by-id centroid sample would land every centroid in cluster 0,
    push the other cells' radii toward pi, and disable the triangle-inequality
    prune. The hash-ordered sample must keep pruning (< all cell pairs) AND
    stay exact (same pairs as brute force)."""
    import itertools
    import math as m

    DIMS, PER_CLUSTER = 8, 40
    # 4 well-separated unit directions; members get a small deterministic wobble
    bases = [
        [1.0] + [0.0] * (DIMS - 1),
        [0.0, 1.0] + [0.0] * (DIMS - 2),
        [0.0, 0.0, 1.0] + [0.0] * (DIMS - 3),
        [0.0, 0.0, 0.0, 1.0] + [0.0] * (DIMS - 4),
    ]
    rows = []
    for c, base in enumerate(bases):
        for i in range(PER_CLUSTER):
            vec = [
                b + 0.05 * (((c * PER_CLUSTER + i) * 31 + d * 17) % 7 - 3) / 3.0
                for d, b in enumerate(base)
            ]
            rows.append((c * PER_CLUSTER + i, vec))  # ids contiguous per cluster
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    stats = {}
    got = {
        (r.i, r.j)
        for r in SIM.cosine_near_pairs(
            emb, threshold=0.9, num_cells=8, stats=stats
        ).collect()
    }
    assert stats["surviving_cell_pairs"] < stats["total_cell_pairs"]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = m.sqrt(sum(x * x for x in a)), m.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    want = {
        (i, j)
        for (i, va), (j, vb) in itertools.combinations(rows, 2)
        if cos(va, vb) >= 0.9
    }
    assert got == want


def test_lsh_bucket_matches_historical_unrolled_formula(spark):
    """_bucket_col (weights as data + HOF lambdas) must reproduce the original
    unrolled per-(plane,dim)-term expression bit for bit — pins the bucket
    assignment across the rewrite that made dims a data size, not a plan size."""
    NUM_PLANES, DIMS = 4, 8
    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.slice("embedding", 1, DIMS).alias("embedding")
    )

    def old_bucket(vec_col):
        bits = []
        for p in range(NUM_PLANES):
            proj = None
            for d in range(DIMS):
                h = F.xxhash64(F.lit(p), F.lit(d))
                w = F.pmod(h, F.lit(10_000)).cast("double") / F.lit(5_000.0) - F.lit(1.0)
                term = F.element_at(vec_col, d + 1).cast("double") * w
                proj = term if proj is None else proj + term
            bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**p))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    weights = SIM._plane_weights(spark, NUM_PLANES, DIMS)
    wdf = F.broadcast(spark.createDataFrame([(weights,)], "W array<array<double>>"))
    both = emb.crossJoin(wdf).select(
        old_bucket("embedding").cast("long").alias("old_b"),
        SIM._bucket_col(F.col("embedding"), F.col("W")).alias("new_b"),
    )
    assert both.filter(F.col("old_b") != F.col("new_b")).count() == 0


def test_lsh_topk_plans_at_production_dims(spark):
    """768-dim × 16-plane must plan and run — the unrolled formula this
    replaced built ~12k expression nodes here and blew up Catalyst analysis
    long before data size mattered."""
    DIMS = 768
    vecs = [
        (i, [((i * 31 + d * 17) % 97) / 48.5 - 1.0 for d in range(DIMS)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = SIM.lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=3,
                       num_planes=16, dims=DIMS, multi_probe=1).collect()
    assert all(r.neighbor_id != r.query_id for r in out)
    assert all(-1.0 - 1e-9 <= r.cosine_sim <= 1.0 + 1e-9 for r in out)


def test_transitive_closure_diamond(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("d", "e")],
        "member string, roleof string",
    )
    got = {(r.member, r.roleof) for r in transitive_closure(edges).collect()}
    assert ("a", "e") in got and ("a", "d") in got and ("b", "e") in got
    assert len(got) == 5 + 4  # 5 direct + (a,d),(a,e),(b,e),(c,e)


def test_transitive_closure_sql_matches_iterative(spark):
    """Spark 4's native WITH RECURSIVE must agree with the iterative
    fixpoint on the doctor fixture (incl. its cycles, if any)."""
    from schemamap_spark.operators.graph import transitive_closure_sql

    edges = spark.read.parquet(f"{DEFAULT_FIXTURE_DIR}/role_edges.parquet")
    it = {(r.member, r.roleof) for r in transitive_closure(edges).collect()}
    rc = {(r.member, r.roleof) for r in transitive_closure_sql(edges).collect()}
    assert it == rc and len(it) > 0


def test_multimodal_decode_plumbing(spark):
    from schemamap_spark.operators.multimodal import decode_images

    images = spark.read.parquet(f"{DEFAULT_FIXTURE_DIR}/images.parquet")
    out = decode_images(images, fake=True)
    rows = out.collect()
    assert len(rows) == images.count()
    for r in rows[:10]:
        assert r.width == r.n_bytes % 640
        assert 0 <= r.checksum_mod < 997


def test_multimodal_real_header_decode(spark):
    """fake=False is a REAL container-level decode (pure stdlib): true
    dims from PNG IHDR / GIF screen descriptor / BMP info header / JPEG
    SOF marker, sniffed fmt, real checksum; unknown payloads surface as
    NULL-dim rows, never failures. Pixel decompression (sample_frames,
    resize) still honestly raises."""
    import struct

    import pytest

    from schemamap_spark.operators.multimodal import decode_images, sample_frames

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"crc0")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    bmp = (b"BM" + struct.pack("<IHHI", 200, 0, 0, 54)
           + struct.pack("<IiiHH", 40, 800, -600, 1, 24) + b"\x00" * 16)
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 9
            + b"\xff\xd9")
    junk = b"not an image at all, just bytes"
    rows = spark.createDataFrame(
        [(1, 10, "claimed-png", bytearray(png)),
         (2, 10, "claimed-gif", bytearray(gif)),
         (3, 11, "claimed-bmp", bytearray(bmp)),
         (4, 11, "lying-png", bytearray(jpeg)),   # claimed fmt is ignored
         (5, 12, "mystery", bytearray(junk))],
        "image_id long, doc_id long, fmt string, payload binary",
    )
    got = {r.image_id: r for r in decode_images(rows, fake=False).collect()}
    assert (got[1].fmt, got[1].width, got[1].height) == ("png", 640, 480)
    assert (got[2].fmt, got[2].width, got[2].height) == ("gif", 320, 200)
    # BMP: negative height = top-down rows; dims still 800x600
    assert (got[3].fmt, got[3].width, got[3].height) == ("bmp", 800, 600)
    assert (got[4].fmt, got[4].width, got[4].height) == ("jpeg", 1920, 1080)
    assert (got[5].fmt, got[5].width, got[5].height) == (None, None, None)
    assert got[5].n_bytes == len(junk)
    assert all(0 <= r.checksum_mod < 997 for r in got.values())
    assert got[1].checksum_mod == sum(png) % 997

    # the fixture corpus (synthetic payloads, no real containers) flows
    # through without failures as all-NULL-dim rows
    images = spark.read.parquet(f"{DEFAULT_FIXTURE_DIR}/images.parquet")
    decoded = decode_images(images, fake=False)
    assert decoded.count() == images.count()

    with pytest.raises(NotImplementedError):
        sample_frames(images)


def test_frame_sampling_plumbing(spark):
    """Row-expanding mapInPandas: sampled frame numbers follow 0,n,2n…,
    counts derive from payload size, frame payloads are the right slices."""
    from schemamap_spark.operators.multimodal import _FAKE_FRAME_SIZE, sample_frames

    videos = (
        spark.read.parquet(f"{DEFAULT_FIXTURE_DIR}/images.parquet")
        .selectExpr("image_id as video_id", "payload")
    )
    sizes = {r.video_id: len(r.payload) for r in videos.collect()}
    out = sample_frames(videos, every_n=2, fake=True).collect()
    by_vid: dict[int, list] = {}
    for r in out:
        by_vid.setdefault(r.video_id, []).append(r)
    assert set(by_vid) == set(sizes)
    for vid, rows in by_vid.items():
        total = max(1, sizes[vid] // _FAKE_FRAME_SIZE)
        assert all(r.n_frames_total == total for r in rows)
        assert sorted(r.frame_no for r in rows) == list(range(0, total, 2))
        for r in rows:
            assert len(r.frame_bytes) <= _FAKE_FRAME_SIZE

    # determinism
    again = sample_frames(videos, every_n=2, fake=True).collect()
    assert sorted((r.video_id, r.frame_no) for r in again) == sorted(
        (r.video_id, r.frame_no) for r in out
    )


def test_resize_images_plumbing(spark):
    from schemamap_spark.operators.multimodal import resize_images

    images = spark.read.parquet(f"{DEFAULT_FIXTURE_DIR}/images.parquet")
    out = resize_images(images, 8, 6, fake=True)
    rows = out.collect()
    assert len(rows) == images.count()
    for r in rows:
        assert (r.width, r.height) == (8, 6)
        assert r.n_bytes == 8 * 6 * 3 == len(r.payload)


def test_audio_features_plumbing(spark):
    import pytest

    from schemamap_spark.operators.multimodal import extract_audio_features

    audio = spark.createDataFrame(
        [(1, bytes([128, 130, 126, 130])), (2, bytes()), (3, bytes([100]))],
        "audio_id long, payload binary",
    )
    rows = {r.audio_id: r for r in extract_audio_features(audio, fake=True).collect()}
    # clip 1: centered samples 0,2,-2,2 -> mean |.| = 1.5; crossings 0->2 no,
    # 2->-2 yes, -2->2 yes = 2 of 3 transitions
    assert rows[1].mean_level == 1.5
    assert rows[1].crossing_rate == round(2 / 3, 6)
    assert rows[1].duration_s_est == round(4 / 16000, 6)
    assert rows[2].n_bytes == 0 and rows[2].mean_level == 0.0
    assert rows[3].crossing_rate == 0.0

    # fake=False REALLY decodes WAV via the stdlib: exact duration from the
    # header, level/zero-crossings over the true PCM samples; non-WAV
    # payloads get NULL features instead of a job failure
    import io
    import wave as _wave

    import numpy as _np

    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        samples = _np.tile(_np.array([1000, -1000], dtype="<i2"), 400)  # 800 frames
        w.writeframes(samples.tobytes())
    wav_bytes = buf.getvalue()
    real = spark.createDataFrame(
        [(1, bytearray(wav_bytes)), (2, bytearray(b"mp3-or-noise"))],
        "audio_id long, payload binary",
    )
    got = {r.audio_id: r for r in extract_audio_features(real, fake=False).collect()}
    assert got[1].duration_s_est == round(800 / 8000, 6)
    assert got[1].mean_level == round(1000 / 32768, 6)
    assert got[1].crossing_rate == 1.0   # strict alternation crosses every step
    assert got[1].n_bytes == len(wav_bytes)
    assert (got[2].duration_s_est, got[2].mean_level, got[2].crossing_rate) == (
        None, None, None,
    )


def test_connected_components_known_graph(spark):
    from schemamap_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)],  # {1,2,3,8,9} and {5,6}
        "i long, j long",
    )
    got = {r.node: r.group_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 8: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_chain_diameter(spark):
    from schemamap_spark.operators.graph import connected_components

    # a long chain exercises multi-round propagation
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "i long, j long")
    got = {r.node: r.group_id for r in connected_components(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing invariants: deterministic; identical docs -> identical sets;
    a document pasted inside another shares fingerprints (any common run of
    >= w+k-1 tokens must contribute >= 1 shared fingerprint)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical
            (3, "intro words here " + base + " trailing words after"),  # contains 1
            (4, "completely different text with other tokens entirely now"),
        ],
        "doc_id long, text string",
    )
    fps = {r.doc_id: set(r.fingerprints) for r in DD.winnow_fingerprints(docs).collect()}
    again = {r.doc_id: set(r.fingerprints) for r in DD.winnow_fingerprints(docs).collect()}
    assert fps == again                       # deterministic
    assert fps[1] == fps[2]                   # identical docs, identical sets
    assert fps[1] & fps[3]                    # containment shares fingerprints
    assert fps[1] <= fps[3] or len(fps[1] & fps[3]) >= len(fps[1]) // 2
    assert not (fps[1] & fps[4])              # unrelated docs share nothing


def test_containment_pairs_asymmetric(spark):
    short = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, short),
            (2, "prefix filler content goes here " + short + " and then much more filler text follows on and on"),
            (3, "unrelated wholly separate document about nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    got = {(r.i, r.j): r.containment for r in DD.containment_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 0.8   # short inside long: high
    assert (2, 1) not in got                      # long in short: below threshold
    assert all(3 not in pair for pair in got)


def test_containment_max_df_drops_boilerplate(spark):
    """A fingerprint present in every doc is stop-filtered with max_df, so
    boilerplate alone must not create pairs."""
    boiler = "standard legal disclaimer text appears here word word"
    docs = spark.createDataFrame(
        [(i, boiler + f" unique{i} tail{i} extra{i} more{i} stuff{i}") for i in range(6)],
        "doc_id long, text string",
    )
    with_boiler = DD.containment_pairs(docs, threshold=0.5)
    filtered = DD.containment_pairs(docs, threshold=0.5, max_df=3)
    assert with_boiler.count() > 0       # shared boilerplate links everything
    assert filtered.count() == 0         # stop-fingerprints removed -> no pairs


def test_curate_corpus_funnel(spark):
    """The composed curation pipeline: quality gate, exact-dup collapse,
    near-dup group collapse (min-id representative), split assignment."""
    from schemamap_spark.operators.curation import curate_corpus, curation_report

    base = ("the quick brown fox jumps over a lazy dog while seven wizards "
            "brew strong potions under ancient oak trees near the river bend "
            "and distant mountains echo with evening birdsong across valleys")
    near = base.rsplit(" ", 1)[0] + " meadows"   # one token differs: high jaccard
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),            # exact duplicate of 1
            (3, near),            # near duplicate of 1
            (4, "completely different high quality document describing " 
                "orbital mechanics satellite telemetry ground station handover "
                "procedures alongside calibration routines and drift analysis"),
            (5, "a a a a"),       # fails the quality gate
        ],
        "doc_id long, text string",
    )
    stats = {}
    curated = curate_corpus(docs, quality_min=0.3, jaccard_threshold=0.8, stats=stats)
    rows = {r.doc_id: r for r in curated.collect()}
    assert set(rows) == {1, 4}            # 2 exact-dropped, 3 near-dropped, 5 low-quality
    assert rows[1].dup_group == 1         # representative keeps its own group id
    assert rows[4].dup_group == 4         # singleton
    assert all(r.split in ("train", "val", "test") for r in rows.values())
    assert all(r.quality >= 0.3 for r in rows.values())

    # pre-collapse funnel stats: two exact-dedup SURVIVORS (1 and 3) share a
    # near-dup group, so the multi-member group count is strictly below both
    # the survivor count and input_docs — unlike a post-collapse
    # countDistinct(dup_group), which always equals curated_docs
    assert stats["gated"].count() == 4                 # doc 5 failed quality
    assert stats["exact_survivors"].count() == 3       # doc 2 exact-collapsed
    group_rows = stats["groups"].collect()
    assert {r.node for r in group_rows} == {1, 3}
    assert len({r.group_id for r in group_rows}) == 1  # one multi-member group
    assert len({r.group_id for r in group_rows}) < len(rows) + 3

    rep_df = curation_report(docs, curated)
    # the two 1-row aggregates join as a broadcast, never CartesianProduct
    rep_plan = rep_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in rep_plan, rep_plan
    rep = rep_df.collect()[0]
    assert (rep.input_docs, rep.curated_docs, rep.removed_docs) == (5, 2, 3)
    assert "dup_groups" not in rep.asDict()


def test_curate_corpus_best_quality_keep(spark):
    """keep='best_quality' keeps the argmax-quality member of each near-dup
    group (the production policy) while dup_group stays the stable min-id
    group key; default min_id behavior unchanged; bad policy raises."""
    import pytest as _pytest

    from schemamap_spark.functions.text import quality_score
    from schemamap_spark.operators.curation import curate_corpus

    base = ("the quick brown fox jumps over a lazy dog while seven wizards "
            "brew strong potions under ancient oak trees near the river bend "
            "and distant mountains echo with evening birdsong across valleys")
    # same content + sentence punctuation: a near-dup that scores HIGHER on
    # the quality heuristic (punctuation ratio) than the bare-token base
    richer = base + " !!! ??? %%%"
    docs = spark.createDataFrame(
        [(1, base), (3, richer)], "doc_id long, text string"
    )
    q = {
        r.doc_id: r.q
        for r in docs.withColumn("q", quality_score("text")).collect()
    }
    assert q[3] > q[1], q   # the later id is the better document

    best = curate_corpus(docs, quality_min=0.0, jaccard_threshold=0.8,
                         keep="best_quality").collect()
    assert [(r.doc_id, r.dup_group) for r in best] == [(3, 1)]

    default = curate_corpus(docs, quality_min=0.0, jaccard_threshold=0.8).collect()
    assert [(r.doc_id, r.dup_group) for r in default] == [(1, 1)]

    with _pytest.raises(ValueError, match="keep policy"):
        curate_corpus(docs, keep="newest")


def test_curate_corpus_custom_column_names(spark):
    """id_col/text_col must reach the near-dup stage: previously the jaccard
    call hardcoded doc_id/text, so frames with other names raised — or, worse,
    deduped on the wrong columns when BOTH names were present (e.g. a 'text'
    column that is not the curated one)."""
    from schemamap_spark.operators.curation import curate_corpus

    base = ("a genuinely varied sentence about glacier melt harpsichord tuning "
            "and seventeen unrelated topics with distinct vocabulary")
    docs = spark.createDataFrame(
        [
            # decoy doc_id/text columns: all-identical text, distinct ids —
            # if the dedup stage read them, rows 2 and 3 would collapse
            (1, base + " variant one", 101, "identical decoy"),
            (2, base + " variant one", 102, "identical decoy"),  # exact dup by body
            (3, "completely different prose on submarine cable maintenance "
                "and deep sea repair logistics workflows", 103, "identical decoy"),
        ],
        "row_id long, body string, doc_id long, text string",
    )
    out = curate_corpus(docs, quality_min=0.0, id_col="row_id", text_col="body")
    kept = {r.row_id for r in out.select("row_id").collect()}
    assert kept == {1, 3}  # 2 collapses into 1 on body; decoys untouched


def test_simhash_zero_hamming_budget(spark):
    """max_hamming=0 = exact-fingerprint matching via one full-width chunk;
    the (1<<64)-1 mask used to overflow a Java long at plan build."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    out = DD.simhash_near_pairs(docs, max_hamming=0).collect()
    assert {(r.i, r.j) for r in out} == {(1, 2)}
    assert all(r.hamming == 0 for r in out)


def test_curate_corpus_is_deterministic(spark):
    from schemamap_spark.operators.curation import curate_corpus

    docs = load_table(spark, SF, "documents").limit(150)
    a = sorted((r.doc_id, r.split, r.dup_group) for r in curate_corpus(docs).collect())
    b = sorted((r.doc_id, r.split, r.dup_group) for r in curate_corpus(docs).collect())
    assert a == b and len(a) > 0


def test_curate_corpus_repeated_doc_id_keeps_one_row_per_digest(spark):
    """A doc_id that repeats with the same text collapses to one row, as in
    incremental_exact_dedup: the exact-dup stage keeps one row per digest."""
    from schemamap_spark.operators.curation import curate_corpus
    from schemamap_spark.operators.dedup import incremental_exact_dedup

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    u = "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    docs = spark.createDataFrame([(1, t), (1, t), (2, u)], "doc_id long, text string")
    got = sorted(r.doc_id for r in curate_corpus(docs, quality_min=0.0).collect())
    fresh, _ = incremental_exact_dedup(docs)
    assert got == sorted(r.doc_id for r in fresh.collect()) == [1, 2]


def test_curate_corpus_repetition_gates_and_redaction(spark):
    """Repetition gates drop looping docs; redaction collapses docs that
    differ only in identifiers into exact duplicates."""
    from schemamap_spark.operators.curation import curate_corpus

    good = ("genuinely varied prose describing seventeen unrelated topics "
            "ranging from glacier melt to harpsichord tuning and beyond "
            "with enough distinct vocabulary to clear every quality gate")
    loop = " ".join(["buy now click here"] * 40)  # top bigram dominates
    mail_a = good + " contact alice@example.com for details"
    mail_b = good + " contact bob@example.org for details"
    docs = spark.createDataFrame(
        [(1, good), (2, loop), (3, mail_a), (4, mail_b)],
        "doc_id long, text string",
    )

    gated = curate_corpus(docs, quality_min=0.0, max_top_bigram_ratio=0.2)
    assert 2 not in {r.doc_id for r in gated.select("doc_id").collect()}

    # jaccard 0.95: mail docs extend `good` (J≈0.82 to it) — keep them out of
    # the near-dup radius so this asserts the exact-collapse path specifically
    redacted = curate_corpus(
        docs, quality_min=0.0, max_top_bigram_ratio=0.2, redact=True, jaccard_threshold=0.95
    )
    rows = {r.doc_id: r for r in redacted.collect()}
    # mail_a / mail_b become byte-identical after [EMAIL] substitution:
    # only the min-id representative (3) survives the exact collapse
    assert 3 in rows and 4 not in rows
    assert "[EMAIL]" in rows[3].text and "@" not in rows[3].text

    dup_lines = "\n".join(["same line of text"] * 20) + "\nunique closer"
    docs2 = spark.createDataFrame([(1, good), (2, dup_lines)], "doc_id long, text string")
    gated2 = curate_corpus(docs2, quality_min=0.0, max_dup_line_ratio=0.5)
    assert {r.doc_id for r in gated2.select("doc_id").collect()} == {1}

    # normalize=True: whitespace-noise variants collapse as exact dups
    noisy = good.replace(" glacier", "   glacier​")
    docs3 = spark.createDataFrame([(1, good), (2, noisy)], "doc_id long, text string")
    normed = curate_corpus(docs3, quality_min=0.0, normalize=True)
    assert {r.doc_id for r in normed.select("doc_id").collect()} == {1}


def test_lsh_multiprobe_improves_recall(spark):
    """Multi-probe must return a superset of single-probe candidates per
    query (same tables, extra buckets) and strictly better-or-equal recall
    against the exact top-k."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id) for r in SIM.cosine_topk(emb, q, k=5).collect()}
    single = {(r.query_id, r.neighbor_id) for r in SIM.lsh_topk(emb, q, k=5).collect()}
    multi = {(r.query_id, r.neighbor_id) for r in SIM.lsh_topk(emb, q, k=5, multi_probe=1).collect()}
    recall_s = len(single & exact) / len(exact)
    recall_m = len(multi & exact) / len(exact)
    assert recall_m >= recall_s
    assert len(multi) >= len(single)


def test_contamination_report_and_decontaminate(spark):
    """13-gram-rule decontamination (k=3 at test size): a corpus doc that
    embeds a benchmark sentence is flagged with the right overlap fraction
    and dropped; clean docs are untouched either way."""
    from schemamap_spark.operators.dedup import contamination_report, decontaminate

    bench_sentence = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [
            (1, "intro words " + bench_sentence + " closing remark here"),  # contains it
            (2, "a completely unrelated training document about volcanoes "
                "and seismic measurement techniques in remote stations"),
            (3, bench_sentence),                                            # verbatim copy
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_sentence)], "doc_id long, text string")

    rep = {r.corpus_id: r for r in contamination_report(corpus, bench, k=3).collect()}
    assert set(rep) == {1, 3}
    assert rep[3].contamination == 1.0           # verbatim: every k-gram shared
    assert rep[1].contamination == 1.0           # fully embedded benchmark
    assert rep[1].bench_ngrams == rep[1].shared_ngrams

    clean = decontaminate(corpus, bench, threshold=0.8, k=3)
    assert {r.doc_id for r in clean.select("doc_id").collect()} == {2}

    # partial overlap scores fractionally, below-threshold survives
    half = "the quick brown fox sat still under warm evening rain today"
    corpus2 = spark.createDataFrame([(9, half)], "doc_id long, text string")
    rep2 = contamination_report(corpus2, bench, k=3).collect()
    assert len(rep2) == 1 and 0.0 < rep2[0].contamination < 0.5
    assert decontaminate(corpus2, bench, threshold=0.5, k=3).count() == 1

    # max_df stop-filter: with max_df=0 every corpus k-gram is "hot" -> no rows
    assert contamination_report(corpus, bench, k=3, max_df=0).count() == 0


def test_review_regressions_short_docs_and_null_payloads(spark):
    """Round-2 review fixes, pinned:
    - shingles on docs shorter than k -> empty gram set, not an ANSI
      index-out-of-bounds (sequence(1,0) is DESCENDING in Spark);
    - contamination_report at the default k=13 survives short docs;
    - resize_images honors the fixed-size contract for empty payloads."""
    from schemamap_spark.operators.dedup import contamination_report
    from schemamap_spark.operators.multimodal import resize_images

    short = spark.createDataFrame(
        [(1, "only two"), (2, "one"), (3, "")], "doc_id long, text string"
    )
    assert contamination_report(short, short, k=13).count() == 0

    imgs = spark.createDataFrame(
        [(1, 1, "png", b""), (2, 2, "png", b"xy")],
        "image_id long, doc_id long, fmt string, payload binary",
    )
    rows = {r.image_id: r for r in resize_images(imgs, 2, 2, fake=True).collect()}
    assert len(rows[1].payload) == 12 == rows[1].n_bytes  # empty in, full-size out
    assert len(rows[2].payload) == 12


def test_curate_corpus_decontaminates_against_benchmark(spark):
    from schemamap_spark.operators.curation import curate_corpus

    bench_sentence = "which planet has the most moons in our solar system"
    docs = spark.createDataFrame(
        [
            (1, "a long and genuinely clean training document discussing "
                "fermentation chemistry pressure vessels and yeast strains"),
            (2, "quiz dump begins " + bench_sentence + " answer saturn obviously"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(7, bench_sentence)], "doc_id long, text string")

    kept = curate_corpus(
        docs, quality_min=0.0, benchmark=bench,
        contamination_threshold=0.8, contamination_k=3,
    )
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {1}
    # without the benchmark both survive
    assert curate_corpus(docs, quality_min=0.0).count() == 2


def test_full_training_pipeline_composes(spark):
    """The whole training-data story end to end on real test data:
    normalize/redact/gate → decontaminate → dedup-collapse → splits → pack.
    Every curated doc is packed exactly once and splits stay consistent."""
    from schemamap_spark.operators.curation import curate_corpus
    from schemamap_spark.operators.packing import pack_sequences, packing_stats

    docs = load_table(spark, SF, "documents")
    bench = docs.limit(3).select("doc_id", "text")
    curated = curate_corpus(
        docs, normalize=True, redact=True, max_top_bigram_ratio=0.9,
        benchmark=bench, contamination_k=3,
    ).persist()
    n = curated.count()
    assert 0 < n < docs.count()

    asg = pack_sequences(curated, max_tokens=512, buckets=8)
    assert asg.count() == n
    assert asg.select("doc_id").distinct().count() == n
    joined = curated.join(asg.select("doc_id", "seq_id", "oversize"), "doc_id")
    assert joined.count() == n  # ids line up 1:1 across stages

    stats = packing_stats(asg, 512).collect()[0]
    assert stats.docs == n and stats.sequences <= n
    curated.unpersist()


def test_corpus_ngram_stats_hand_computed(spark):
    """df counts distinct docs, tf counts every occurrence, and the
    (df desc, gram) order makes the top-k boundary deterministic."""
    from schemamap_spark.operators.ngrams import corpus_ngram_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),          # bigrams: "a b" x2, "b a" x1
            (2, "a b c"),            # "a b", "b c"
            (3, "c"),                # too short for bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r.gram: r for r in corpus_ngram_stats(docs, n=2, top=None).collect()}
    assert rows["a b"].df == 2 and rows["a b"].tf == 3
    assert rows["b a"].df == 1 and rows["b a"].tf == 1
    assert rows["b c"].df == 1 and rows["b c"].tf == 1
    assert abs(rows["a b"].df_ratio - round(2 / 3, 6)) < 1e-9

    top = corpus_ngram_stats(docs, n=2, top=2).collect()
    assert [(r.gram, r.df) for r in top] == [("a b", 2), ("b a", 1)]

    uni = {r.gram: r.tf for r in corpus_ngram_stats(docs, n=1, top=None).collect()}
    assert uni == {"a": 3, "b": 3, "c": 2}


def test_stop_grams_threshold(spark):
    from schemamap_spark.operators.ngrams import stop_grams

    docs = spark.createDataFrame(
        [(i, "common prefix here doc %d unique tail %d" % (i, i)) for i in range(10)],
        "doc_id long, text string",
    )
    stops = {r.gram for r in stop_grams(docs, n=3, max_df_ratio=0.5).collect()}
    # the shared 3-gram appears in all 10 docs; per-doc unique tails never do
    assert "common prefix here" in stops
    assert all("unique tail" not in g or "doc" in g for g in stops)
    assert not any(f"doc {i}" in g and "tail" in g for i in range(10) for g in stops)


def test_quantile_quality_filter(spark):
    """Bottom-decile drop by corpus-relative quantile; boundary ties kept."""
    from schemamap_spark.functions.text import quality_score
    from schemamap_spark.operators.curation import quantile_quality_filter

    docs = load_table(spark, SF, "documents")
    scored = docs.withColumn("q", quality_score("text"))
    total = scored.count()

    kept = quantile_quality_filter(docs, drop_fraction=0.2, exact=True)
    n_kept = kept.count()
    assert 0 < n_kept < total
    # every kept doc's quality >= every dropped doc's quality (cutoff is a
    # single global threshold)
    kept_min = kept.agg(F.min("quality")).collect()[0][0]
    dropped = scored.join(kept.select("doc_id"), "doc_id", "left_anti")
    if dropped.count():
        dropped_max = dropped.agg(F.max("q")).collect()[0][0]
        assert dropped_max <= kept_min
    # approx path keeps a similar fraction (sketch, not exact)
    n_approx = quantile_quality_filter(docs, drop_fraction=0.2).count()
    assert abs(n_approx - n_kept) <= max(5, int(0.02 * total))

    # drop_fraction=0 is the identity (plus the score column)
    assert quantile_quality_filter(docs, drop_fraction=0.0).count() == total


def test_topk_recall_exact_and_lsh(spark):
    """Recall of exact-vs-exact is 1.0 everywhere; LSH recall is in (0, 1]
    and queries the index returned nothing for still show up as 0-hit."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk(emb, q, k=3)
    self_recall = SIM.topk_recall(exact, exact).collect()
    assert all(r.recall == 1.0 and r.n_hit == r.n_exact for r in self_recall)

    approx = SIM.lsh_topk(emb, q, k=3)
    rec = SIM.topk_recall(exact, approx).collect()
    assert {r.query_id for r in rec} == {r.query_id for r in self_recall}
    assert all(0.0 <= r.recall <= 1.0 for r in rec)
    # multi-probe can only add candidates -> recall never decreases
    rec_mp = {
        r.query_id: r.recall
        for r in SIM.topk_recall(exact, SIM.lsh_topk(emb, q, k=3, multi_probe=1)).collect()
    }
    assert all(rec_mp[r.query_id] >= r.recall for r in rec)


def test_quantize_embeddings_roundtrip(spark):
    """int8 roundtrip: per-element error <= scale/2, qvec is tinyint, zero
    vectors reconstruct exactly, and cosine ranking survives quantization."""
    from schemamap_spark.operators.embeddings import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load_table(spark, SF, "embeddings")
    zero = spark.createDataFrame(
        [(99999, [0.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
    )
    both = emb.unionByName(zero)
    qq = quantize_embeddings(both)
    # the per-row scale must be hoisted OUT of the transform lambda: an
    # inlined array_max re-runs per element (O(d²)/row, ~170× wall at 1536
    # dims — measured in SCALE.md). Correct shape: array_max lives only in
    # the qscale-producing Project; the qvec projection references the
    # qscale COLUMN (CollapseProject must not have re-inlined the alias).
    opt_plan = qq._jdf.queryExecution().optimizedPlan().toString()
    for line in opt_plan.splitlines():
        if "qvec" in line:
            assert "array_max" not in line, line
    qd = dequantize_embeddings(qq)
    assert dict(qd.dtypes)["qvec"] == "array<tinyint>"

    rows = qd.select("vec_id", "embedding", "qscale", "embedding_deq").collect()
    import math

    for r in rows:
        assert len(r.embedding) == len(r.embedding_deq)
        for x, xd in zip(r.embedding, r.embedding_deq):
            assert abs(float(x) - xd) <= r.qscale / 2 + 1e-12
        if r.vec_id == 99999:
            assert r.qscale == 0.0 and all(x == 0.0 for x in r.embedding_deq)
        else:
            orig = [float(x) for x in r.embedding]
            dot = sum(a * b for a, b in zip(orig, r.embedding_deq))
            na = math.sqrt(sum(a * a for a in orig))
            nb = math.sqrt(sum(b * b for b in r.embedding_deq))
            assert dot / (na * nb) > 0.995


def test_trending_ngrams_stream_matches_batch(spark, tmp_path):
    """availableNow streaming run over a doc directory equals the batch
    windowed df computation — the promotion-is-a-source-swap guarantee."""
    import datetime as dt

    from schemamap_spark.operators.ngrams import ngrams_from_tokens
    from schemamap_spark.streaming.pipeline import start_memory_sink, trending_ngrams_stream

    t0 = dt.datetime(2024, 1, 1, 10, 15)
    rows = [
        (1, t0, "alpha beta alpha beta"),
        (2, t0 + dt.timedelta(minutes=10), "alpha beta gamma"),
        (3, t0 + dt.timedelta(hours=2), "alpha beta"),
    ]
    schema = "doc_id long, ts timestamp, text string"
    batch = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "docs_stream")
    batch.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    # complete mode: append would emit a window only once the watermark
    # passes it, and a bounded availableNow run ends with every window still
    # open — the production sink is append (exactly-once per closed window),
    # the test sink is complete (full table, trigger-count independent)
    q = start_memory_sink(
        trending_ngrams_stream(stream, n=2, window="1 hour"),
        "trending",
        output_mode="complete",
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.gram): r.n_docs
        for r in spark.sql("select * from trending").collect()
    }
    expect = {
        batch_r: n
        for batch_r, n in (
            ((dt.datetime(2024, 1, 1, 10), "alpha beta"), 2),
            ((dt.datetime(2024, 1, 1, 10), "beta alpha"), 1),
            ((dt.datetime(2024, 1, 1, 10), "beta gamma"), 1),
            ((dt.datetime(2024, 1, 1, 12), "alpha beta"), 1),
        )
    }
    assert got == expect


def test_tfidf_top_terms_hand_computed(spark):
    """Rare terms outscore common ones; rank order is (score desc, gram)."""
    import math

    from schemamap_spark.operators.ngrams import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "shared shared rare"),
            (2, "shared other"),
            (3, "shared other"),
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.gram): r for r in tfidf_top_terms(docs, n=1, top_per_doc=3).collect()}
    # doc 1: "rare" df=1 -> idf = ln(4/2)+1; "shared" tf=2 df=3 -> idf = ln(4/4)+1 = 1
    rare = rows[(1, "rare")]
    shared = rows[(1, "shared")]
    assert rare.df == 1 and shared.df == 3 and shared.tf == 2
    assert abs(rare.score - round(1 * (math.log(4 / 2) + 1), 6)) < 1e-9
    assert abs(shared.score - 2.0) < 1e-9
    assert shared.rank < rare.rank  # tf=2 * 1.0 > 1 * 1.693... is false: 2.0 > 1.693
    assert all(r.rank <= 3 for r in rows.values())


def test_ivf_with_full_probe_is_exact(spark):
    """Probing every centroid makes IVF's candidate set the whole corpus, so
    the result must equal exact brute-force top-k — recall 1.0 everywhere."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk(emb, q, k=3)
    full = SIM.ivf_topk(emb, q, k=3, num_centroids=8, nprobe=8)
    rec = SIM.topk_recall(exact, full).collect()
    assert all(r.recall == 1.0 for r in rec), rec


def test_pq_pipeline_recall_and_rerank(spark):
    """PQ train → encode → ADC top-k: codes are tiny, ADC recall is real,
    and exact re-rank (the production two-stage) strictly dominates ADC-only
    recall. Deterministic end to end (hash-ordered sample, Lloyd from fixed
    init), so the recall floor is a stable pin, not a flaky bound."""
    from schemamap_spark.operators.embeddings import pq_encode, pq_topk, pq_train

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    books = pq_train(emb, m=8, k_per_sub=16, sample=1024)
    assert len(books) == 8
    assert all(len(b) <= 16 for b in books)

    codes = pq_encode(emb, books)
    crows = codes.collect()
    assert len(crows) == emb.count()
    assert all(len(r.codes) == 8 and all(0 <= c < 16 for c in r.codes) for r in crows)

    exact = SIM.cosine_topk(emb, q, k=5)
    adc = pq_topk(codes, q, books, k=5)
    assert {r.query_id for r in adc.select("query_id").distinct().collect()} == {0, 1, 2, 3, 4}
    rec_adc = SIM.topk_recall(exact, adc).agg(F.avg("recall")).collect()[0][0]

    rr = pq_topk(codes, q, books, k=5, rerank=4, corpus=emb)
    rec_rr = SIM.topk_recall(exact, rr).agg(F.avg("recall")).collect()[0][0]
    assert rec_rr >= rec_adc
    # near-random synthetic embeddings are the ADVERSARIAL case for a coarse
    # quantizer (all cosines ≈ 0, exact top-5 margins are noise-level); the
    # deterministic pipeline lands ADC 0.2 / rerank 0.44 here — pin a floor
    # under that. The planted-neighbor test below is where recall must be
    # high; this one pins the machinery + the rerank >= adc dominance.
    assert rec_rr >= 0.35, (rec_adc, rec_rr)
    # re-ranked sims are EXACT cosines: every returned (q, n) sim matches the
    # exact operator's value for that pair
    exact_sims = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()}
    for r in rr.collect():
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert abs(r.cosine_sim - exact_sims[(r.query_id, r.neighbor_id)]) < 1e-9


def test_pq_validation_errors(spark):
    from schemamap_spark.operators.embeddings import pq_topk, pq_train

    emb = load_table(spark, SF, "embeddings")
    import pytest

    with pytest.raises(ValueError):
        pq_train(emb, m=7)  # 64 % 7 != 0
    books = pq_train(emb, m=4, k_per_sub=8, sample=256)
    codes_df = spark.createDataFrame([(1, [0] * 4)], "vec_id long, codes array<smallint>")
    with pytest.raises(ValueError):
        pq_topk(codes_df, emb.filter(F.col("vec_id") < 2), books, k=3, rerank=2)


def test_pq_recall_on_planted_neighbors(spark):
    """Clustered corpus (each base vector + small-noise copies): the true
    neighbors have large cosine margins — the workload PQ exists for — and
    ADC must recover them with high recall, rerank≈1."""
    import numpy as np

    from schemamap_spark.operators.embeddings import pq_encode, pq_topk, pq_train

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for b in range(40):
        base = rng.normal(size=32)
        base /= np.linalg.norm(base)
        for _ in range(5):
            v = base + rng.normal(scale=0.05, size=32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 5 == 0).limit(8)

    books = pq_train(emb, m=8, k_per_sub=32, sample=200)
    codes = pq_encode(emb, books)
    exact = SIM.cosine_topk(emb, q, k=4)
    adc = pq_topk(codes, q, books, k=4)
    rec_adc = SIM.topk_recall(exact, adc).agg(F.avg("recall")).collect()[0][0]
    rr = pq_topk(codes, q, books, k=4, rerank=3, corpus=emb)
    rec_rr = SIM.topk_recall(exact, rr).agg(F.avg("recall")).collect()[0][0]
    assert rec_adc >= 0.7, rec_adc
    assert rec_rr >= 0.9, rec_rr


def test_incremental_exact_dedup_across_batches(spark):
    """Batch 2 dedups against batch 1's fingerprint store without batch 1's
    text: cross-batch dups drop, in-batch dups collapse, fresh docs pass."""
    from schemamap_spark.operators.dedup import incremental_exact_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    fresh1, store1 = incremental_exact_dedup(b1)
    assert {r.doc_id for r in fresh1.collect()} == {1, 2}

    b2 = spark.createDataFrame(
        [
            (10, "ALPHA BETA GAMMA  "),   # exact dup of doc 1 (normalized)
            (11, "eta theta iota"),
            (12, "eta theta iota"),       # in-batch dup of 11
            (13, "kappa lambda mu"),
        ],
        "doc_id long, text string",
    )
    fresh2, store2 = incremental_exact_dedup(b2, store1)
    assert {r.doc_id for r in fresh2.collect()} == {11, 13}
    # next-batch store = union; a batch-3 dup of any earlier doc drops
    store = store1.unionByName(store2)
    b3 = spark.createDataFrame([(20, "kappa lambda mu")], "doc_id long, text string")
    fresh3, _ = incremental_exact_dedup(b3, store)
    assert fresh3.count() == 0


def test_incremental_exact_dedup_one_row_per_digest_on_a_repeated_id(spark):
    """A batch that repeats a doc_id with the same normalized text must still
    give one fresh row and one store entry per digest. With a groupBy-min id
    plus a semi-join on (digest, id), both rows of the repeated id matched
    and survived. The representative is the least row by (doc_id, payload)."""
    from schemamap_spark.operators.dedup import incremental_exact_dedup

    batch = spark.createDataFrame(
        [(1, "Hello world"), (1, "hello world "), (2, "HELLO WORLD"), (3, "other")],
        "doc_id long, text string",
    )
    fresh, store = incremental_exact_dedup(batch)
    rows = sorted((r.doc_id, r.text) for r in fresh.collect())
    assert rows == [(1, "Hello world"), (3, "other")]
    assert fresh.columns == ["doc_id", "text", "fingerprint"]
    assert store.count() == store.distinct().count() == 2


def test_incremental_exact_dedup_picks_the_same_row_under_permutation(spark):
    """Equal ids with different payloads: whatever the input order and
    partitioning, the same representative (least doc_id, then least
    payload in column order) is kept."""
    import random

    from schemamap_spark.operators.dedup import incremental_exact_dedup

    rows = [
        (5, "b", "Same Text"), (5, "a", "same text"), (7, "a", " SAME TEXT"),
        (2, "z", "other text"), (2, "y", "Other Text "), (9, "x", "lonely"),
    ]
    picked = set()
    for seed in range(4):
        perm = rows[:]
        random.Random(seed).shuffle(perm)
        batch = spark.createDataFrame(perm, "doc_id long, src string, text string")
        fresh, _ = incremental_exact_dedup(batch.repartition(3))
        picked.add(tuple(sorted(tuple(r) for r in fresh.drop("fingerprint").collect())))
    assert picked == {((2, "y", "Other Text "), (5, "a", "same text"), (9, "x", "lonely"))}


def test_incremental_dedup_bucketed_store_joins_without_store_shuffle(spark):
    """The dedup store's 100 TB claim (dedup.py docstring), plan-proven like
    the bucketed SCD2 merge: with the fingerprint store bucketed on its
    digest, the anti-join re-shuffles only the (small) incoming batch — the
    historical store never moves. Exactly ONE hash Exchange in the plan,
    and it sits on the batch side, not above the bucketed store scan."""
    from schemamap_spark.operators.dedup import incremental_exact_dedup
    from schemamap_spark.operators.skew import write_bucketed

    b1 = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(50)], "doc_id long, text string"
    )
    _, store1 = incremental_exact_dedup(b1)
    write_bucketed(store1, "b_fp_store", "fingerprint", 8)

    b2 = spark.createDataFrame(
        [(100 + i, f"text number {i * 2}") for i in range(30)],
        "doc_id long, text string",
    )
    # at test scale the tiny store would auto-broadcast (also shuffle-free,
    # but it proves nothing about the bucketed layout a 100 TB store needs)
    # — disqualify broadcast so the bucketed SMJ path is the one asserted
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fresh, _ = incremental_exact_dedup(b2, spark.table("b_fp_store"))
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        # the anti-join's store side reads the bucketed layout directly
        assert "Bucketed: true" in plan, plan
        # …and the store's own column never rides an Exchange (the batch
        # side still shuffles to align with the store's buckets — that IS
        # the claim: only the small side moves)
        import re

        m = re.search(r"b_fp_store\[fingerprint#(\d+)\]", plan)
        assert m, plan
        assert f"Exchange hashpartitioning(fingerprint#{m.group(1)}" not in plan, plan
        # semantics unchanged: b2's texts 'text number {0,2,..48}' (i*2 < 50,
        # 25 of them) are already in the store; the 5 with i*2 >= 50 pass
        assert fresh.count() == 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_incremental_minhash_matches_batch_mode(spark):
    """Splitting a corpus into two batches and running incremental minhash
    (batch 2 vs batch 1's band store) finds exactly the pairs batch mode
    finds on the union — banding is the same deterministic definition."""
    from schemamap_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_similar_pairs,
        shingles_for,
    )

    docs = load_table(spark, SF, "documents")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    want = {
        (r.i, r.j): r.jaccard
        for r in minhash_lsh_similar_pairs(docs, 0.5).collect()
    }

    _, store1 = incremental_minhash_dedup(b1, threshold=0.5)
    pairs1, _ = incremental_minhash_dedup(b1, threshold=0.5)
    pairs2, _ = incremental_minhash_dedup(
        b2, band_store=store1, old_shingles=shingles_for(b1), threshold=0.5
    )
    got = {}
    for r in pairs1.collect():
        got[(r.i, r.j)] = r.jaccard
    for r in pairs2.collect():
        got[(r.i, r.j)] = r.jaccard
    assert got == want


def test_incremental_minhash_unverified_sentinel(spark):
    """Without old_shingles, cross-batch candidates surface with the -1
    sentinel instead of silently verifying against nothing."""
    from schemamap_spark.operators.dedup import incremental_minhash_dedup

    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog near the shore")],
        "doc_id long, text string",
    )
    _, store1 = incremental_minhash_dedup(b1)
    pairs, _ = incremental_minhash_dedup(b2, band_store=store1)
    rows = pairs.collect()
    assert [(r.i, r.j, r.jaccard) for r in rows] == [(1, 2, -1.0)]


def test_corpus_report_per_source_and_total(spark):
    """The corpus card: per-group and TOTAL variants, exact counts, sane
    quantile ordering, and a dup ratio that reacts to injected duplicates."""
    from schemamap_spark.operators.curation import corpus_report

    docs = load_table(spark, SF, "documents")
    rep = {r[0]: r for r in corpus_report(docs).collect()}
    assert sum(r.docs for r in rep.values()) == docs.count()
    for r in rep.values():
        assert r.tokens > 0 and r.chars > 0
        assert r.quality_p10 <= r.quality_p50 <= r.quality_p90
        assert 0.0 <= r.approx_dup_ratio <= 1.0

    total = corpus_report(docs, group_col=None).collect()
    assert len(total) == 1 and total[0].scope == "TOTAL"
    assert total[0].docs == docs.count()

    # inject exact dups -> dup ratio must rise for that group
    dup = docs.limit(50).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    rep2 = corpus_report(docs.unionByName(dup), group_col=None).collect()[0]
    assert rep2.approx_dup_ratio > total[0].approx_dup_ratio


def test_ivf_pq_recall_and_full_probe(spark):
    """IVF-PQ on planted clusters: nprobe=all reduces to plain PQ (same
    candidates, no routing loss); modest nprobe keeps recall high because
    true neighbors share the query's cell by construction."""
    import numpy as np

    from schemamap_spark.operators.embeddings import ivf_pq_topk, pq_encode, pq_topk, pq_train

    rng = np.random.RandomState(23)
    rows = []
    vid = 0
    for b in range(30):
        base = rng.normal(size=32)
        base /= np.linalg.norm(base)
        for _ in range(5):
            v = base + rng.normal(scale=0.05, size=32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 5 == 0).limit(6)
    books = pq_train(emb, m=8, k_per_sub=32, sample=200)

    # full probe == plain PQ: routing cannot lose anything
    codes = pq_encode(emb, books)
    plain = pq_topk(codes, q, books, k=4)
    fullp = ivf_pq_topk(emb, q, books, k=4, num_centroids=8, nprobe=8)
    assert {(r.query_id, r.neighbor_id, r.rank) for r in plain.collect()} == {
        (r.query_id, r.neighbor_id, r.rank) for r in fullp.collect()
    }

    exact = SIM.cosine_topk(emb, q, k=4)
    routed = ivf_pq_topk(emb, q, books, k=4, num_centroids=8, nprobe=3)
    rec = SIM.topk_recall(exact, routed).agg(F.avg("recall")).collect()[0][0]
    assert rec >= 0.6, rec
    rr = ivf_pq_topk(emb, q, books, k=4, num_centroids=8, nprobe=3, rerank=3)
    rec_rr = SIM.topk_recall(exact, rr).agg(F.avg("recall")).collect()[0][0]
    assert rec_rr >= rec - 1e-9

    # the trained router option (same seam as ann_index_build): full probe
    # still reduces to plain PQ — routing can't lose — whatever the router
    km_full = ivf_pq_topk(
        emb, q, books, k=4, num_centroids=8, nprobe=8, centroids="kmeans"
    )
    assert {(r.query_id, r.neighbor_id, r.rank) for r in km_full.collect()} == {
        (r.query_id, r.neighbor_id, r.rank) for r in plain.collect()
    }


def test_cosine_topk_drops_infinite_vectors(spark):
    """A vector containing ±Inf has an infinite squared norm; its sims are
    NaN (inf/inf), which Spark's desc sort ranks greatest — it must be
    dropped per side before the join, like zero-norm vectors, on BOTH
    scoring paths. A NaN ELEMENT is the sneakier case: sq = NaN, and since
    Spark SQL orders NaN greater than every numeric, a guard ending in
    `> 0` passes it unless the NaN is neutralized first (nanvl) — an
    unguarded NaN corpus vector ranks as EVERY query's rank-1 neighbor
    with cosine_sim=NaN."""
    import math

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [math.inf, 1.0, 0.0, 0.0]),   # Inf corpus vector
        (4, [-math.inf, 0.0, 1.0, 0.0]),  # -Inf query vector
        (5, [math.nan, 1.0, 0.0, 0.0]),   # NaN corpus vector
        (6, [0.5, math.nan, 0.0, 0.0]),   # NaN query vector
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id").isin(0, 4, 6))
    for name, op in _ranked_topk_ops(4).items():
        out = op(emb, queries, 3).collect()
        # the Inf/NaN queries are dropped entirely; Inf/NaN corpus rows never rank
        assert {r.query_id for r in out} == {0}, (name, out)
        assert all(r[1] not in (3, 4, 5, 6) for r in out), (name, out)
        assert all(not math.isnan(r.cosine_sim) for r in out), (name, out)
        assert [r[1] for r in out] == [1, 2], (name, out)


def test_cosine_topk_sims_are_cosine_bit_for_bit(spark, monkeypatch):
    """cosine_topk's expr path projects each side's norm once per row and
    scores a pair as try_divide(q·c, q_nrm * c_nrm); cosine() computes both
    norms inside the pair. The arithmetic and its order are the same, so
    every unrounded sim must carry cosine()'s exact bits, NULL and NaN
    included, on tied, zero, NaN and ±Inf vectors; and the ranked output,
    ties broken by neighbor_id, must be the ranking of cosine() itself.
    Every other scoring site shares the core, so on finite nonzero vectors
    the unrounded sims each ranked operator hands to `rank_topk` carry the
    same bits, and cosine_near_pairs' rounded sims equal cosine()'s."""
    import math
    import struct

    from pyspark.sql import Window

    rows = [
        (0, [0.3, 0.1, 0.7]),
        (1, [0.3, 0.1, 0.7]),             # tie: duplicate of 0
        (2, [0.6, 0.2, 1.4]),             # tie: 2 × vector 0
        (3, [0.1, 0.9, 0.2]),
        (4, [0.1, 0.9, 0.2]),             # tie: duplicate of 3
        (5, [-0.2, 0.4, 0.1]),
        (6, [0.0, 0.0, 0.0]),             # zero
        (7, [math.nan, 0.5, 0.5]),        # NaN
        (8, [math.inf, 0.5, 0.5]),        # +Inf
        (9, [0.5, -math.inf, 0.5]),       # -Inf
        (10, [1e-160, 1e-160, 1e-160]),   # subnormal squared norm
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))

    def bits(x):
        return None if x is None else struct.pack(">d", x)

    scored = {
        (r.query_id, r.neighbor_id): bits(r.sim)
        for r in SIM._expr_candidates(c, q).collect()
    }
    ref = {
        (r.query_id, r.neighbor_id): bits(r.sim)
        for r in c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", SIM.cosine("q_vec", "c_vec").alias("sim"))
        .collect()
    }
    assert len(ref) == len(rows) * (len(rows) - 1)
    assert scored == ref
    assert scored[(0, 1)] == scored[(0, 2)] and scored[(6, 0)] is None

    k = 4
    out = [tuple(r) for r in SIM.cosine_topk(emb, emb, k=k).collect()]
    finite = [0, 1, 2, 3, 4, 5, 10]
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    want = [
        tuple(r)
        for r in c.crossJoin(q)
        .filter(F.col("neighbor_id").isin(finite) & F.col("query_id").isin(finite))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", SIM.cosine("q_vec", "c_vec").alias("sim"))
        .select(
            "query_id", "neighbor_id", F.row_number().over(w).alias("rank"),
            F.round("sim", 6).alias("cosine_sim"),
        )
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert out == want

    fin = emb.filter(F.col("vec_id").isin(finite))
    # the sims each operator ranks, caught at the one rank tail (the PQ
    # reranks call it twice; the last call ranks the exact rerank)
    ranked = []
    real_rank_topk = SIM.rank_topk

    def spy(scored, *a, **kw):
        ranked.append(scored)
        return real_rank_topk(scored, *a, **kw)

    monkeypatch.setattr(SIM, "rank_topk", spy)
    for name, op in _ranked_topk_ops(3).items():
        if name == "cosine_topk_matmul":
            continue  # BLAS summation order: ≤1 ulp by contract
        ranked.clear()
        op(fin, fin, 3)
        got = {(r[0], r[1]): bits(r.sim) for r in ranked[-1].collect()}
        assert got, name
        assert {p: ref[p] for p in got} == got, name
    near = {
        (r.i, r.j): r.cosine_sim
        for r in SIM.cosine_near_pairs(fin, threshold=-1.0, num_cells=2).collect()
    }
    want_near = {
        (r.neighbor_id, r.query_id): r.s
        for r in c.crossJoin(q)
        .filter(F.col("neighbor_id").isin(finite) & F.col("query_id").isin(finite))
        .filter(F.col("neighbor_id") < F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(SIM.cosine("q_vec", "c_vec"), 6).alias("s"))
        .collect()
    }
    assert near == want_near


def test_cosine_near_pairs_ignores_zero_and_nan_vectors(spark):
    """A zero or NaN vector has no cosine with anything: under Spark's ANSI
    default a plain `/` on its norm raised DIVIDE_BY_ZERO, and a NaN sim
    passes `>= threshold` (NaN orders greatest). Adding such vectors must
    leave the pairs exactly as they were, and semantic_dedup keeps them as
    singletons."""
    import numpy as np

    rng = np.random.RandomState(5)
    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame(
        [(i, rng.uniform(-1, 1, 3).tolist()) for i in range(20)], schema
    )
    odd = spark.createDataFrame(
        [(99, [0.0, 0.0, 0.0]), (98, [float("nan"), 1.0, 1.0])], schema
    )
    want = SIM.cosine_near_pairs(base, threshold=0.9, num_cells=4).collect()
    assert want
    got = SIM.cosine_near_pairs(base.union(odd), threshold=0.9, num_cells=4).collect()
    assert got == want
    kept = {r.vec_id for r in SIM.semantic_dedup(base, 0.9, num_cells=4).collect()}
    kept_odd = {
        r.vec_id for r in SIM.semantic_dedup(base.union(odd), 0.9, num_cells=4).collect()
    }
    assert kept_odd == kept | {98, 99}


def test_topk_pair_projection_holds_one_dot_product(spark):
    """Catalyst does not share lambda (HOF) terms between expressions, so a
    pair projection that scored with cosine() would evaluate q·q and c·c for
    every pair. With norms projected per row, the projection that computes
    each pair's sim holds exactly one zip_with dot product."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    for op in (SIM.cosine_topk, SIM.lsh_topk, SIM.ivf_topk):
        plan = op(emb, q, k=3)._jdf.queryExecution().optimizedPlan().toString()
        pair = [line for line in plan.splitlines() if " AS sim#" in line]
        assert len(pair) == 1, (op.__name__, plan)
        assert pair[0].count("zip_with(") == 1, (op.__name__, pair[0])


def test_lsh_topk_evaluates_each_bucket_once(spark):
    """The join on the hyperplane bucket infers isnotnull(bucket); were the
    bucket nullable, Catalyst would push that filter below each side's
    projection and evaluate the bucket twice per row. One copy per side."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    for multi_probe in (0, 1):
        df = SIM.lsh_topk(emb, q, k=3, multi_probe=multi_probe)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("aggregate(reverse(transform(W") == 2, (multi_probe, plan)


def test_incremental_minhash_reingested_doc(spark):
    """A doc_id present in both the store and the new batch (re-ingest)
    resolves new-batch-wins: each pair is emitted exactly once, with jaccard
    computed from the NEW text — no fanout through duplicated shingle rows,
    no stale self-pairs through the old band rows."""
    from schemamap_spark.operators.dedup import (
        incremental_minhash_dedup,
        jaccard_similar_pairs,
        shingles_for,
    )

    t_old = "the quick brown fox jumps over the lazy dog near the river"
    t_new = "the quick brown fox jumps over the lazy dog near the shore"
    b1 = spark.createDataFrame([(1, t_old)], "doc_id long, text string")
    _, store1 = incremental_minhash_dedup(b1, threshold=0.5)
    store1 = store1.localCheckpoint()

    # batch 2 re-ingests doc 1 with NEW text plus a near-dup doc 2
    b2 = spark.createDataFrame(
        [(1, t_new), (2, t_new + " bank")], "doc_id long, text string"
    )
    pairs, _ = incremental_minhash_dedup(
        b2, band_store=store1, old_shingles=shingles_for(b1), threshold=0.5
    )
    rows = pairs.collect()
    assert [(r.i, r.j) for r in rows] == [(1, 2)], rows
    # jaccard must come from the new text: batch-mode value over b2 alone
    want = {(r.i, r.j): r.jaccard for r in jaccard_similar_pairs(b2, 0.5).collect()}
    assert abs(rows[0].jaccard - want[(1, 2)]) < 1e-9


def test_pq_train_rejects_all_zero_sample(spark):
    """An all-zero-norm sample must fail the contract loudly, not with an
    opaque numpy argmin error."""
    import pytest

    from schemamap_spark.operators.embeddings import pq_train

    zeros = spark.createDataFrame(
        [(i, [0.0] * 16) for i in range(8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="nonzero-norm"):
        pq_train(zeros, m=4, k_per_sub=4, sample=8)


def test_driver_query_collect_cap(spark, monkeypatch):
    """The matmul/PQ scoring paths collect the query side to the driver under
    a documented cap; past it they must raise a clear error, not OOM. The
    guard collects at most cap+1 rows (no extra count job)."""
    import pytest

    import schemamap_spark.operators.similarity as sim_mod
    from schemamap_spark.operators.embeddings import ivf_pq_topk, pq_encode, pq_topk, pq_train

    emb = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(sim_mod, "MAX_DRIVER_QUERIES", 8)

    big_q = emb.limit(9)  # cap + 1
    with pytest.raises(ValueError, match="MAX_DRIVER_QUERIES"):
        SIM.cosine_topk(emb, big_q, k=3, method="matmul").collect()

    books = pq_train(emb, m=4, k_per_sub=8, sample=64)
    codes = pq_encode(emb, books)
    with pytest.raises(ValueError, match="MAX_DRIVER_QUERIES"):
        pq_topk(codes, big_q, books, k=3)
    with pytest.raises(ValueError, match="MAX_DRIVER_QUERIES"):
        ivf_pq_topk(emb, big_q, books, k=3, num_centroids=4, nprobe=2)

    # at the cap (not past it) everything still works
    ok = SIM.cosine_topk(emb, emb.limit(8), k=3, method="matmul")
    assert ok.count() > 0


def test_semantic_dedup_collapses_chains(spark):
    """SemDeDup semantics: components CHAIN through pairwise-similar links
    (1~2, 2~3 collapses {1,2,3} even though cos(1,3) < threshold), the
    min-id member represents each component, singletons survive untouched."""
    import math

    from schemamap_spark.operators.similarity import semantic_dedup

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0]

    rows = [
        (1, at(0)),    # chain: cos(0,15)=.966, cos(15,30)=.966 >= .95
        (2, at(15)),   #        but cos(0,30)=.866 < .95
        (3, at(30)),
        (10, [0.0, 0.0, 1.0]),  # singleton, orthogonal to the chain
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats: dict = {}
    kept = semantic_dedup(emb, threshold=0.95, num_cells=2, stats=stats)
    assert sorted(r.vec_id for r in kept.collect()) == [1, 10]
    assert kept.columns == emb.columns  # schema unchanged
    pairs = {(r.i, r.j) for r in stats["pairs"].collect()}
    assert pairs == {(1, 2), (2, 3)}  # the chain links, NOT (1, 3)
    assert {r.node for r in stats["groups"].collect()} == {1, 2, 3}


def test_pq_topk_all_zero_queries_returns_empty(spark):
    """A non-empty query frame whose vectors are ALL zero-norm must return
    an empty result, not crash the driver-side LUT stacking."""
    from schemamap_spark.operators.embeddings import (
        ivf_pq_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = load_table(spark, SF, "embeddings")
    books = pq_train(emb, m=4, k_per_sub=8, sample=64)
    codes = pq_encode(emb, books)
    zq = spark.createDataFrame(
        [(1000, [0.0] * 64), (1001, [0.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    assert pq_topk(codes, zq, books, k=3).count() == 0
    assert ivf_pq_topk(emb, zq, books, k=3, num_centroids=4, nprobe=2).count() == 0


def test_semantic_dedup_no_pairs_is_identity(spark):
    """With no pair above threshold, semantic_dedup returns the corpus
    unchanged (empty component set must not drop or error)."""
    from schemamap_spark.operators.similarity import semantic_dedup

    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = semantic_dedup(emb, threshold=0.99, num_cells=2)
    assert sorted(r.vec_id for r in kept.collect()) == [1, 2, 3]


def test_fuzzy_match_staging_to_master(spark):
    """Name-normalized char-3-gram matching: case/whitespace variants hit
    their master row at jaccard 1.0, near-miss spellings rank below exact
    hits, unmatched staging rows are absent, and top=k bounds the fanout."""
    import pytest

    from schemamap_spark.operators.matching import fuzzy_match, normalized_char_ngrams

    master = spark.createDataFrame(
        [(1, "Acme Corp"), (2, "Acme Inc"), (3, "Globex Corporation")],
        "id long, name string",
    )
    staging = spark.createDataFrame(
        [
            ("s1", "  ACME   corp "),   # normalization -> exact master 1
            ("s2", "Acme Corp."),       # near miss (trailing dot)
            ("s3", "Initech"),          # no match
        ],
        "id string, name string",
    )
    out = fuzzy_match(staging, master, threshold=0.5, top=2)
    # candidate generation is an inverted-index equi-join — never a
    # CartesianProduct / BroadcastNestedLoopJoin of staging x master
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    rows = {(r.id_left, r.rank): (r.id_right, r.jaccard) for r in out.collect()}
    assert rows[("s1", 1)] == (1, 1.0)
    assert rows[("s2", 1)][0] == 1 and rows[("s2", 1)][1] < 1.0
    assert not any(k[0] == "s3" for k in rows)
    # top=2: s1 may also match "Acme Inc" at rank 2, never more than 2 rows
    assert all(r.rank <= 2 for r in out.collect())

    # short-string guard: a sub-n name still matches its exact twin
    short = fuzzy_match(
        spark.createDataFrame([("x", "ab")], "id string, name string"),
        spark.createDataFrame([(9, " AB ")], "id long, name string"),
        threshold=0.9,
    ).collect()
    assert [(r.id_left, r.id_right, r.jaccard) for r in short] == [("x", 9, 1.0)]

    with pytest.raises(ValueError):
        fuzzy_match(staging, master, threshold=0.0)
    with pytest.raises(ValueError):
        fuzzy_match(staging, master, top=0)


def test_fuzzy_match_equals_bruteforce(spark):
    """Prefix filtering is lossless: the candidate-pruned result equals the
    brute-force cross-join jaccard on a frame with shared hot grams."""
    from schemamap_spark.operators.matching import fuzzy_match, normalized_char_ngrams
    from pyspark.sql import Window, functions as F

    left = spark.createDataFrame(
        [(i, f"Organization Number {i:03d}") for i in range(30)],
        "id long, name string",
    )
    right = spark.createDataFrame(
        [(100 + i, f"organization  number {i:03d}") for i in range(0, 60, 2)],
        "id long, name string",
    )
    got = {
        (r.id_left, r.id_right, r.jaccard, r.rank)
        for r in fuzzy_match(left, right, threshold=0.8, top=3).collect()
    }
    l = left.select(F.col("id").alias("lid"), normalized_char_ngrams(F.col("name")).alias("a"))
    r_ = right.select(F.col("id").alias("rid"), normalized_char_ngrams(F.col("name")).alias("b"))
    brute = (
        l.crossJoin(r_)
        .select(
            "lid", "rid",
            (F.size(F.array_intersect("a", "b")).cast("double")
             / F.size(F.array_union("a", "b")).cast("double")).alias("jac"),
        )
        .filter(F.col("jac") >= 0.8)
    )
    w = Window.partitionBy("lid").orderBy(F.desc("jac"), "rid")
    want = {
        (r.lid, r.rid, round(r.jac, 6), r.rank)
        for r in brute.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3).collect()
    }
    assert got == want and got


def test_fuzzy_duplicates_within_master(spark):
    """Self-match mode: near-identical master names surface once as (i<j)
    pairs, exact self-pairs never appear, distinct names stay silent."""
    from schemamap_spark.operators.matching import fuzzy_duplicates

    master = spark.createDataFrame(
        [
            (1, "Acme Corp"),
            (2, " ACME   corp "),   # normalized duplicate of 1
            (3, "Globex Corporation"),
            (4, "Initech"),
        ],
        "id long, name string",
    )
    pairs = fuzzy_duplicates(master, threshold=0.9).collect()
    assert [(r.i, r.j, r.jaccard) for r in pairs] == [(1, 2, 1.0)]


def test_drop_repeated_lines_removes_cross_doc_boilerplate(spark):
    from schemamap_spark.operators.dedup import drop_repeated_lines

    banner = "Accept cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nunique alpha\n\nunique beta"),
            (2, f"{banner}\nsecond doc body"),
            (3, f"{banner}\nthird doc body"),
            (4, banner),                      # all-boilerplate doc
            (5, "standalone text\nno banner"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in drop_repeated_lines(docs, max_doc_freq=2).collect()}
    assert out[1] == "unique alpha\n\nunique beta"  # order + blank separator kept
    assert out[2] == "second doc body"
    assert out[3] == "third doc body"
    assert out[4] == ""                              # survives as an empty doc
    assert out[5] == "standalone text\nno banner"
    assert set(out) == {1, 2, 3, 4, 5}

    # df == max_doc_freq is NOT boilerplate (strictly-greater rule): the
    # banner appears in exactly 4 documents
    out2 = {r.doc_id: r.text for r in drop_repeated_lines(docs, max_doc_freq=4).collect()}
    assert out2[2] == f"{banner}\nsecond doc body"

    # normalization: case/whitespace variants of the banner count together
    docs_norm = spark.createDataFrame(
        [(1, "  THE BANNER  \nkeep one"), (2, "the banner\nkeep two"), (3, "The Banner")],
        "doc_id long, text string",
    )
    out3 = {r.doc_id: r.text for r in drop_repeated_lines(docs_norm, max_doc_freq=2).collect()}
    assert out3 == {1: "keep one", 2: "keep two", 3: ""}


def test_truncate_embeddings_matryoshka(spark):
    import math

    from schemamap_spark.operators.embeddings import truncate_embeddings

    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 0.0, 0.0]), (2, [0.0, 0.0, 5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.embedding_trunc for r in truncate_embeddings(df, 2).collect()}
    # row 1: prefix (3,4) renormalized to unit length
    assert [round(x, 6) for x in out[1]] == [0.6, 0.8]
    # row 2: zero-norm prefix passes through unnormalized
    assert out[2] == [0.0, 0.0]
    raw = {r.vec_id: r.embedding_trunc
           for r in truncate_embeddings(df, 2, renormalize=False).collect()}
    assert raw[1] == [3.0, 4.0]
    # renormalized output is unit-length whenever the prefix is nonzero
    n = math.sqrt(sum(x * x for x in out[1]))
    assert abs(n - 1.0) < 1e-12
    import pytest as _pytest
    with _pytest.raises(ValueError, match="dims"):
        truncate_embeddings(df, 0)


def test_truncate_embeddings_plan_hoists_norm(spark):
    """The prefix norm must appear ONCE in the optimized plan (materialized
    column), not inlined per element inside the division lambda."""
    from schemamap_spark.operators.embeddings import truncate_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    plan = truncate_embeddings(df, 2)._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        assert line.count("aggregate(") <= 1, f"norm inlined per element:\n{line}"


def test_embedding_outliers_flags_planted_point(spark):
    from schemamap_spark.operators.embeddings import embedding_outliers

    rows = []
    # two tight clusters around (0,0) and (10,10)
    for i in range(40):
        rows.append((i, [0.0 + (i % 5) * 0.01, 0.0 + (i % 7) * 0.01]))
    for i in range(40, 80):
        rows.append((i, [10.0 + (i % 5) * 0.01, 10.0 + (i % 7) * 0.01]))
    rows.append((999, [0.0, 3.0]))  # far tail of the origin cluster
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_outliers(df, k=2, z_threshold=3.0)
    flagged = {r.vec_id for r in out.filter("is_outlier").collect()}
    assert flagged == {999}
    got = {r.vec_id: r for r in out.collect()}
    assert len(got) == 81
    # planted point's z is far out; cluster-mates stay small
    assert got[999].z > 3.0
    assert all(abs(got[i].z) < 3.0 for i in range(80))


def test_embedding_outliers_degenerate_cluster(spark):
    from schemamap_spark.operators.embeddings import embedding_outliers

    df = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(10)] + [(99, [5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    out = embedding_outliers(df, k=2).collect()
    assert all(r.z == 0.0 and not r.is_outlier for r in out)  # sd=0 -> z=0


def test_profile_table_metrics(spark):
    from schemamap_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (3, None, 2.5), (4, "a", None)],
        "id long, s string, v double",
    )
    got = {r.column: r for r in profile_table(df).collect()}
    assert set(got) == {"id", "s", "v"}
    assert all(r.n_rows == 4 for r in got.values())
    assert got["s"].n_nulls == 1 and got["s"].null_ratio == 0.25
    assert got["v"].n_nulls == 2 and got["v"].null_ratio == 0.5
    assert (got["id"].min_value, got["id"].max_value) == ("1", "4")
    assert (got["s"].min_value, got["s"].max_value) == ("a", "b")
    assert got["id"].approx_ndv == 4  # small domains: HLL is exact
    assert got["s"].approx_ndv == 2   # nulls don't count as a value

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown columns"):
        profile_table(df, ["nope"])
    with _pytest.raises(ValueError, match="non-empty"):
        profile_table(df.select([]), [])


def test_profile_table_hostile_column_names(spark):
    """Dotted / backticked / quoted names must profile: columns are
    addressed by exact name (df[c]), not parsed (F.col would read 'a.b'
    as nested-field access and choke on an embedded backtick)."""
    from schemamap_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "x", 2.0), (None, "y", 3.0)],
        ["a.b", "o'brien", "tick`d"],
    )
    got = {r.column: r for r in profile_table(df).collect()}
    assert set(got) == {"a.b", "o'brien", "tick`d"}
    assert got["a.b"].n_nulls == 1
    assert got["o'brien"].approx_ndv == 2
    assert (got["tick`d"].min_value, got["tick`d"].max_value) == ("2.0", "3.0")


def test_bm25_self_retrieval_and_ranking(spark):
    from schemamap_spark.operators.retrieval import bm25_topk

    # distinct-vocabulary corpus: self-retrieval at rank 1 is a valid
    # invariant here (the fixture documents share one tiny vocabulary, so
    # rank 1 legitimately goes to tf/length patterns there — that path is
    # value-checked by the bm25 DuckDB oracle instead)
    docs = spark.createDataFrame(
        [
            (1, "apple orchard harvest cider apple press"),
            (2, "quantum entanglement qubit decoherence"),
            (3, "sourdough levain crumb fermentation bake"),
            (4, "apple pie bake"),  # overlaps both 1 and 3
        ],
        "doc_id long, text string",
    )
    queries = docs.select(F.col("doc_id").alias("query_id"), "text")
    out = bm25_topk(docs, queries, k=3)
    top1 = {r.query_id: r.doc_id for r in out.filter("rank = 1").collect()}
    assert top1 == {1: 1, 2: 2, 3: 3, 4: 4}
    # ranks dense from 1, scores non-increasing within a query
    for q in (1, 2, 3, 4):
        rows = sorted(
            (r.rank, r.score_micros)
            for r in out.filter(F.col("query_id") == q).collect()
        )
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        scores = [s for _, s in rows]
        assert scores == sorted(scores, reverse=True)
    # disjoint-vocabulary query matches nothing but itself
    assert {r.doc_id for r in out.filter("query_id = 2").collect()} == {2}


def test_bm25_stop_term_guard_and_validation(spark):
    from schemamap_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"the common word{i}") for i in range(10)],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(100, "the word3")], "query_id long, text string")
    # "the"/"common" are in every doc; with max_df_ratio=0.5 only "word3"
    # survives, so exactly one doc matches
    hits = bm25_topk(docs, q, k=5, max_df_ratio=0.5).collect()
    assert [r.doc_id for r in hits] == [3]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must"):
        bm25_topk(docs, q, k=0)


def test_bm25_index_tokenizes_once(spark):
    """The inverted index feeds three consumers (avgdl, df map, scoring
    join); the fix for the triple-tokenization smell persists it, so the
    physical plan must read the cached index — not re-derive it — at each
    reuse point, and the corpus text must be tokenized exactly once."""
    from schemamap_spark.operators.retrieval import bm25_index, bm25_topk

    docs = load_table(spark, SF, "documents")
    q = docs.filter("doc_id <= 3").select(F.col("doc_id").alias("query_id"), "text")

    out = bm25_topk(docs, q, k=5, max_df_ratio=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    reuse = plan.count("InMemoryTableScan")
    assert reuse >= 2, f"cached index not reused (found {reuse} cache scans):\n{plan}"
    # every corpus tokenization (explode of the doc token array) in the
    # printout is the cached relation's child plan reprinted under an
    # InMemoryTableScan — none standalone. The live explodes are the QUERY
    # side only (array_distinct over query tokens): one feeding the scoring
    # join, and since r18 one more deriving the df semi-join's term set —
    # both bounded-small broadcast branches by the query-side contract
    # (duplicating a bounded subtree beats the vocab-wide df aggregation
    # the r18 restructure removed).
    assert plan.count("Generate explode(toks") <= reuse, plan
    assert 1 <= plan.count("Generate explode(array_distinct") <= 2, plan

    # a caller-supplied prebuilt index is honored (no internal rebuild) and
    # gives identical results
    idx = bm25_index(docs).persist()
    try:
        via_idx = bm25_topk(docs, q, k=5, max_df_ratio=0.9, index=idx)
        assert sorted(map(tuple, via_idx.collect())) == sorted(
            map(tuple, out.collect())
        )
    finally:
        idx.unpersist()


def test_bm25_prebuilt_index_is_single_stats_source(spark):
    """A caller-supplied index owns ALL corpus statistics (N, avgdl, the
    stop-term guard) — the `docs` argument is ignored, so a stale or
    wrong-corpus index can never silently mix with a fresh docs count and
    skew idf. `n_docs` overrides the index-derived N explicitly."""
    from schemamap_spark.operators.retrieval import bm25_index, bm25_topk

    docs = load_table(spark, SF, "documents")
    small = docs.filter("doc_id <= 30")
    q = docs.filter("doc_id = 1").select(F.col("doc_id").alias("query_id"), "text")

    idx_small = bm25_index(small).persist()
    try:
        # passing the WRONG docs frame alongside a small-corpus index must
        # score exactly as the small corpus — not blend big-N idf in
        via_idx = bm25_topk(docs, q, k=5, index=idx_small)
        direct = bm25_topk(small, q, k=5)
        assert sorted(map(tuple, via_idx.collect())) == sorted(
            map(tuple, direct.collect())
        )
        # explicit n_docs: same value -> identical; a different corpus
        # size must move idf (provably used, not ignored)
        n_small = small.count()
        same = bm25_topk(docs, q, k=5, index=idx_small, n_docs=n_small)
        assert sorted(map(tuple, same.collect())) == sorted(
            map(tuple, direct.collect())
        )
        bigger = bm25_topk(docs, q, k=5, index=idx_small, n_docs=10 * n_small)
        d_scores = {r.doc_id: r.score_micros for r in direct.collect()}
        b_scores = {r.doc_id: r.score_micros for r in bigger.collect()}
        common = set(d_scores) & set(b_scores)
        assert common and all(b_scores[d] > d_scores[d] for d in common)
        import pytest as _pytest
        with _pytest.raises(ValueError, match="n_docs"):
            bm25_topk(docs, q, k=5, index=idx_small, n_docs=0)
    finally:
        idx_small.unpersist()


def test_hybrid_rerank_exclude_self_flag(spark):
    """Default drops query_id==doc_id self-pairs (queries drawn from the
    corpus); exclude_self=False keeps a colliding id — the separate
    query-id-space case where the collision is a legitimate document."""
    from schemamap_spark.operators.retrieval import hybrid_rerank_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.05])], "query_id long, embedding array<double>"
    )
    cands = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3)], "query_id long, doc_id long"
    )
    kept = hybrid_rerank_topk([cands], corpus, queries, k=3)
    assert [r.doc_id for r in kept.collect()] == [2, 3]
    full = hybrid_rerank_topk([cands], corpus, queries, k=3, exclude_self=False)
    assert [r.doc_id for r in full.collect()] == [1, 2, 3]


def test_rrf_fuse_hand_computed(spark):
    from schemamap_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "query_id long, doc_id long, rank int"
    )
    got = {r.doc_id: (r.rrf_micros, r.n_systems, r.rank)
           for r in rrf_fuse([a, b], rrf_k=60, top=10).collect()}

    def m(rank):
        return round(1e6 / (60 + rank))

    # doc 11 appears in both systems -> fused to the top
    assert got[11] == (m(2) + m(1), 2, 1)
    assert got[10] == (m(1), 1, 2)
    assert got[13] == (m(2), 1, 3)
    assert got[12] == (m(3), 1, 4)

    # composes with the real BM25 output shape
    from schemamap_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, SF, "documents")
    q = docs.filter("doc_id = 1").select(F.col("doc_id").alias("query_id"), "text")
    r1 = bm25_topk(docs, q, k=5)
    r2 = bm25_topk(docs, q, k=5, b=0.0)  # second "system": no length norm
    fused = rrf_fuse([r1, r2], top=3)
    assert fused.count() == 3
    assert [r.rank for r in fused.collect()] == [1, 2, 3]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([])


def test_rrf_fuse_weighted(spark):
    from schemamap_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "query_id long, doc_id long, rank int"
    )

    def m(rank, w=1.0):
        return round(w * 1e6 / (60 + rank))

    # down-weighted system B: its boost of doc 11 shrinks by exactly w
    got = {r.doc_id: r.rrf_micros
           for r in rrf_fuse([a, b], weights=[1.0, 0.25]).collect()}
    assert got[11] == m(2) + m(1, 0.25)
    assert got[13] == m(2, 0.25)
    # default weights are bit-identical to the unweighted path
    plain = {r.doc_id: r.rrf_micros for r in rrf_fuse([a, b]).collect()}
    ones = {r.doc_id: r.rrf_micros
            for r in rrf_fuse([a, b], weights=[1.0, 1.0]).collect()}
    assert plain == ones
    # weight 0 removes a system's influence: A's order wins outright
    zeroed = [r.doc_id for r in rrf_fuse([a, b], weights=[1.0, 0.0]).collect()]
    assert zeroed[:2] == [10, 11]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="parallel"):
        rrf_fuse([a, b], weights=[1.0])
    with _pytest.raises(ValueError, match="non-negative"):
        rrf_fuse([a, b], weights=[1.0, -0.5])


def test_retrieval_eval_hand_computed(spark):
    """recall@k / MRR / nDCG against a worked example:
    query 1: qrels {10: rel 3, 11: rel 1, 12: rel 2}; results ranked
    [10, 13, 12, 11, 14]; k=3 -> top-3 = [10, 13, 12]."""
    import math

    from schemamap_spark.operators.retrieval import retrieval_eval

    res = spark.createDataFrame(
        [(1, 10, 1), (1, 13, 2), (1, 12, 3), (1, 11, 4), (1, 14, 5),
         (2, 20, 1)],  # query 2 retrieves nothing relevant
        "query_id long, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, 10, 3), (1, 11, 1), (1, 12, 2),
         (2, 29, 1),
         (3, 30, 2)],  # query 3 has judgments but NO results at all
        "query_id long, doc_id long, rel int",
    )
    got = {r.query_id: r for r in retrieval_eval(res, qrels, k=3).collect()}

    q1 = got[1]
    assert (q1.n_rel, q1.hits_at_k) == (3, 2)        # 10 and 12 in top-3
    assert q1.recall_at_k == round(2 / 3, 6)
    assert q1.mrr_micros == 1_000_000                # first hit at rank 1
    # DCG = g(3)/log2(2) + g(2)/log2(4); IDCG = g(3)/log2(2) + g(2)/log2(3)
    # + g(1)/log2(4), each term micro-rounded before the integer sum
    def c(rel, rank):
        return round((2 ** rel - 1) / math.log2(rank + 1) * 1e6)
    dcg = c(3, 1) + c(2, 3)
    idcg = c(3, 1) + c(2, 2) + c(1, 3)
    assert q1.ndcg_micros == round(dcg / idcg * 1e6)

    q2 = got[2]  # judged, retrieved only junk: all-zero metrics, visible
    assert (q2.n_rel, q2.hits_at_k, q2.recall_at_k) == (1, 0, 0.0)
    assert (q2.mrr_micros, q2.ndcg_micros) == (0, 0)

    q3 = got[3]  # judged, never retrieved: still reports, all zeros
    assert (q3.hits_at_k, q3.mrr_micros, q3.ndcg_micros) == (0, 0, 0)

    # the qrels plan is evaluated ONCE for its three consumers (hits /
    # ideal / n_rel): the physical plan reads the cache at the reuse points
    plan = retrieval_eval(res, qrels, k=3)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan

    # capped recall: 5 relevant, k=2, both top-2 relevant -> recall 1.0
    res_b = spark.createDataFrame(
        [(9, i, i) for i in range(1, 3)], "query_id long, doc_id long, rank int"
    )
    qrels_b = spark.createDataFrame(
        [(9, i, 1) for i in range(1, 6)], "query_id long, doc_id long, rel int"
    )
    assert retrieval_eval(res_b, qrels_b, k=2).collect()[0].recall_at_k == 1.0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        retrieval_eval(res, qrels, k=0)


def test_retrieval_eval_end_to_end_systems_ordering(spark):
    """The metric agrees with the recall harness' verdict on real systems:
    on the clustered fixture, evaluated against exact-cosine qrels, the
    exact retriever scores a perfect nDCG and a weak LSH config scores
    strictly lower — the metric separates systems the right way."""
    from schemamap_spark.operators.retrieval import retrieval_eval
    from schemamap_spark.operators import similarity as SIM

    emb = spark.read.parquet("fixtures/clustered_embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = SIM.cosine_topk(emb, q, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    qrels = exact.select("query_id", "doc_id", (F.lit(11) - F.col("rank")).alias("rel"))
    lsh = SIM.lsh_topk(emb, q, k=10, num_planes=6, dims=64).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    perfect = retrieval_eval(exact, qrels, k=10).agg(F.avg("ndcg_micros")).collect()[0][0]
    approx = retrieval_eval(lsh, qrels, k=10).agg(F.avg("ndcg_micros")).collect()[0][0]
    assert perfect == 1_000_000.0
    assert 0 < approx < perfect


def test_hybrid_rerank_corpus_never_shuffles_or_broadcasts(spark):
    """The rerank join's 100 TB contract, plan-pinned: the CORPUS scan is
    the streamed probe side — the slim candidate set (ids + query vectors)
    is the broadcast build side. Without the explicit hint Spark's stats
    pick the (small at test scale) corpus as the build side, which inverts
    into a full corpus-vector shuffle or broadcast at real scale."""
    from schemamap_spark.operators.retrieval import hybrid_rerank_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter("vec_id < 4")
    ranking = spark.createDataFrame(
        [(1, 5, 1), (1, 6, 2), (2, 7, 1), (3, 5, 1)],
        "query_id long, doc_id long, rank int",
    )
    out = hybrid_rerank_topk([ranking], emb, q, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # find the rerank join: the corpus child must sit directly under the
    # streamed (left) side of a BroadcastHashJoin on doc_id, not under a
    # BroadcastExchange or an Exchange hashpartitioning(doc_id)
    import re

    m = re.search(r"BroadcastHashJoin \[doc_id#\d+L\], \[doc_id#\d+L\], Inner, BuildRight", plan)
    assert m, plan
    assert "Exchange hashpartitioning(vec_id" not in plan, plan
    # correctness unchanged: top hit per query is the exact best candidate
    rows = out.collect()
    assert {r.query_id for r in rows} == {1, 2, 3}
    assert all(r.cosine_sim is not None for r in rows)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        hybrid_rerank_topk([], emb, q)
    with _pytest.raises(ValueError, match="k must be"):
        hybrid_rerank_topk([ranking], emb, q, k=0)
