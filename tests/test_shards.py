"""Training-shard exporter (sources/shards.py): deterministic assignment,
reproducible within-shard order, atomic layout, manifest contract."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from schemamap_spark.session import load_table
from schemamap_spark.sources.shards import (
    assign_shards,
    shard_stats,
    write_training_shards,
)

from conftest import SF001

SF = os.environ.get("SPARK_GRAFT_SF_DIR", SF001)


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def test_assignment_is_deterministic_and_partitioning_free(spark, docs):
    a = assign_shards(docs, 16).select("doc_id", "shard")
    b = assign_shards(docs.repartition(7), 16).select("doc_id", "shard")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    # every shard in range, none out
    mm = a.agg(F.min("shard"), F.max("shard")).first()
    assert mm[0] >= 0 and mm[1] <= 15


def test_salt_selects_an_independent_permutation(spark, docs):
    a = assign_shards(docs, 16, salt=0).select("doc_id", "shard")
    b = assign_shards(docs, 16, salt=1).select("doc_id", "shard")
    moved = a.join(b.withColumnRenamed("shard", "shard2"), "doc_id").filter(
        F.col("shard") != F.col("shard2")
    )
    assert moved.count() > 0  # different salt, different assignment
    # same salt twice: identical
    c = assign_shards(docs, 16, salt=1).select("doc_id", "shard")
    assert b.subtract(c).count() == 0


def test_balance_is_hash_uniform(spark, docs):
    n = docs.count()
    sizes = [
        r["c"]
        for r in assign_shards(docs, 8)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert len(sizes) == 8  # no empty shard at 8 shards on this corpus
    assert sum(sizes) == n
    assert max(sizes) < 3 * min(sizes)  # multinomial around n/8


def test_export_layout_manifest_and_reproducibility(spark, docs, tmp_path):
    d1 = str(tmp_path / "exp1")
    d2 = str(tmp_path / "exp2")
    write_training_shards(docs, d1, num_shards=4, token_col="n_chars")
    write_training_shards(docs, d2, num_shards=4, token_col="n_chars")

    # layout: one parquet file per shard dir (each shard wholly in one task)
    for k in range(4):
        files = [
            f
            for f in os.listdir(os.path.join(d1, f"shard={k}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1

    # manifest totals match the data and the direct aggregation
    m = json.loads(open(os.path.join(d1, "_SHARDS.json")).read())
    assert m["num_shards"] == 4 and m["salt"] == 0
    expect = {
        r["shard"]: (r["n"], r["s"])
        for r in assign_shards(docs, 4)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    }
    for s in m["shards"]:
        assert (s["rows"], s["tokens"]) == expect[s["shard"]]

    # reproducibility: same corpus + salt -> byte-equal shard CONTENT AND
    # ORDER (parquet preserves row order; one file per shard makes the
    # per-shard sequence well-defined)
    for k in range(4):
        r1 = spark.read.parquet(os.path.join(d1, f"shard={k}")).collect()
        r2 = spark.read.parquet(os.path.join(d2, f"shard={k}")).collect()
        assert r1 == r2
        assert len(r1) == expect[k][0]

    # the shuffle order interleaves: not simply sorted by doc_id
    ids0 = [r["doc_id"] for r in r1]
    assert ids0 != sorted(ids0)

    # shard_stats reads the manifest back
    st = {r["shard"]: r["rows"] for r in shard_stats(spark, d1).collect()}
    assert st == {k: v[0] for k, v in expect.items()}


def test_empty_shards_live_in_manifest_not_on_disk(spark, docs, tmp_path):
    d = str(tmp_path / "tiny")
    tiny = docs.limit(5)
    write_training_shards(tiny, d, num_shards=64)
    m = json.loads(open(os.path.join(d, "_SHARDS.json")).read())
    assert len(m["shards"]) == 64
    assert sum(s["rows"] for s in m["shards"]) == 5
    on_disk = [n for n in os.listdir(d) if n.startswith("shard=")]
    assert len(on_disk) <= 5  # empty shards have no directory
    st = shard_stats(spark, d)
    assert st.count() == 64 and st.agg(F.sum("rows")).first()[0] == 5


def test_shard_stats_recomputes_when_manifest_missing(spark, docs, tmp_path):
    d = str(tmp_path / "nomanifest")
    write_training_shards(docs, d, num_shards=4)
    os.unlink(os.path.join(d, "_SHARDS.json"))  # the documented crash window
    st = {r["shard"]: r["rows"] for r in shard_stats(spark, d).collect()}
    expect = {
        r["shard"]: r["n"]
        for r in assign_shards(docs, 4)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert st == expect


def test_bounds_and_unshuffled_mode(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="num_shards"):
        assign_shards(docs, 0)
    with pytest.raises(ValueError, match="num_shards"):
        assign_shards(docs, 10_000_001)
    # shuffle=False still exports a valid tree with the same membership
    d = str(tmp_path / "noshuf")
    write_training_shards(docs, d, num_shards=4, shuffle=False)
    back = spark.read.parquet(d)
    assert back.count() == docs.count()
    pairs = back.select("doc_id", "shard")
    direct = assign_shards(docs, 4).select("doc_id", "shard")
    assert pairs.subtract(direct).count() == 0


def test_review_guards(spark, docs, tmp_path):
    """Code-review r9 findings on the exporter, pinned: empty-df refusal
    (an empty export would destroy a previous valid tree), fail-fast
    column validation (before the expensive job, not after the swap),
    reserved-name collisions, torn-manifest self-heal, and salt overflow
    safety for hash-derived ids near 2^63."""
    d = str(tmp_path / "exp")
    write_training_shards(docs, d, num_shards=4, token_col="n_chars")

    # empty df: refused BEFORE any I/O — the existing export survives
    with pytest.raises(ValueError, match="empty"):
        write_training_shards(
            docs.filter(F.lit(False)), d, num_shards=4
        )
    assert shard_stats(spark, d).agg(F.sum("rows")).first()[0] == docs.count()

    # typo'd columns: fail fast, export untouched
    with pytest.raises(ValueError, match="token_col"):
        write_training_shards(docs, d, num_shards=4, token_col="n_token")
    with pytest.raises(ValueError, match="id_col"):
        write_training_shards(docs, d, num_shards=4, id_col="docid")

    # reserved names: no silent overwrite-and-drop
    with pytest.raises(ValueError, match="shard"):
        assign_shards(docs.withColumn("shard", F.lit(0)), 4)
    with pytest.raises(ValueError, match="__ord"):
        write_training_shards(
            docs.withColumn("__ord", F.lit(0)), d, num_shards=4
        )

    # torn manifest (pre-atomic-publish legacy): self-heals by recompute
    with open(os.path.join(d, "_SHARDS.json"), "w") as f:
        f.write('{"num_shards": 4, "sh')  # truncated mid-write
    st = shard_stats(spark, d)
    assert st.agg(F.sum("rows")).first()[0] == docs.count()


def test_salt_safe_for_hash_derived_ids(spark):
    """Adding the salt to the RAW id would overflow long under ANSI for
    ids near 2^63 — the reduce-first arithmetic must not."""
    from schemamap_spark.sources.shards import assign_shards

    big = spark.createDataFrame(
        [(2**63 - 1,), (2**63 - 2,), (2**62 + 17,)], "doc_id long"
    )
    out = assign_shards(big, 16, salt=12345).collect()
    assert all(0 <= r["shard"] < 16 for r in out)


def test_manifest_rides_the_atomic_swap(spark, docs, tmp_path, monkeypatch):
    """VERDICT r9 #3: stats come from the STAGED tree and _SHARDS.json
    commits in the same atomic rename as the data — a crash anywhere
    before the swap leaves the previous export (data AND manifest)
    untouched, and new exports have no data-sans-manifest window (so the
    recompute fallback's tokens=0 blindness is legacy-only)."""
    import schemamap_spark.sources.shards as sh

    d = str(tmp_path / "exp")
    write_training_shards(docs, d, num_shards=4, token_col="n_chars")
    before = open(os.path.join(d, "_SHARDS.json")).read()
    m = json.loads(before)
    assert m["order"] == "hash-v2"
    assert (
        sum(s["tokens"] for s in m["shards"])
        == docs.agg(F.sum("n_chars")).first()[0]
    )

    def crash(tmp, target, fs=None):
        raise OSError("killed before the swap")

    monkeypatch.setattr(sh, "_swap_into_place", crash)
    with pytest.raises(OSError, match="killed"):
        write_training_shards(docs.limit(3), d, num_shards=4, salt=9)
    monkeypatch.undo()
    # the previous export survives in full — data and manifest both
    assert open(os.path.join(d, "_SHARDS.json")).read() == before
    assert (
        shard_stats(spark, d).agg(F.sum("rows")).first()[0] == docs.count()
    )


def test_epoch_orders_are_decorrelated_not_rotations(spark, docs, tmp_path):
    """ADVICE r9: the old order key knuth_hash(id, salt+1) made two
    salts' within-shard orders constant ROTATIONS of each other (the
    hash family is affine in the id, so differences are constant mod
    2^31) — successive epoch re-shuffles barely re-shuffled.
    scramble_hash breaks the affinity."""
    from schemamap_spark.operators.sampling import knuth_hash, scramble_hash

    ids = spark.range(2000).select(F.col("id").alias("doc_id"))
    # the flaw being fixed: affine hashes at two salts differ by a constant
    affine = (
        ids.select(
            F.pmod(
                knuth_hash("doc_id", 1) - knuth_hash("doc_id", 2),
                F.lit(2**31),
            ).alias("d")
        ).distinct().count()
    )
    assert affine == 1
    # the scramble's differences spread — not a rotation of anything
    spread = (
        ids.select(
            F.pmod(
                scramble_hash("doc_id", 0) - scramble_hash("doc_id", 1),
                F.lit(2**31),
            ).alias("d")
        ).distinct().count()
    )
    assert spread > 1000

    # end-to-end: one shard (membership identical across salts), two
    # epochs — the realized sequence at salt 1 must not be a rotation of
    # the sequence at salt 0
    d0, d1 = str(tmp_path / "e0"), str(tmp_path / "e1")
    write_training_shards(docs, d0, num_shards=1, salt=0)
    write_training_shards(docs, d1, num_shards=1, salt=1)
    seq0 = [r["doc_id"] for r in spark.read.parquet(os.path.join(d0, "shard=0")).collect()]
    seq1 = [r["doc_id"] for r in spark.read.parquet(os.path.join(d1, "shard=0")).collect()]
    assert sorted(seq0) == sorted(seq1) and seq0 != seq1
    doubled = seq0 + seq0  # a rotation of seq0 is a contiguous run in here
    n = len(seq0)
    is_rotation = any(
        doubled[i:i + n] == seq1 for i in range(n)
    )
    assert not is_rotation


def test_order_by_curriculum_export(spark, docs, tmp_path):
    """VERDICT r9 #5: order_by replaces the hash order with an explicit
    curriculum order within each shard (ties by id, so the export stays
    byte-reproducible); membership and manifest totals are unchanged
    (order never affects either — the extras oracle holds as-is)."""
    d1, d2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    write_training_shards(
        docs, d1, num_shards=4, token_col="n_chars", order_by=["n_chars"]
    )
    write_training_shards(
        docs, d2, num_shards=4, token_col="n_chars", order_by=["n_chars"]
    )
    m = json.loads(open(os.path.join(d1, "_SHARDS.json")).read())
    assert m["order"] == ["n_chars"]
    for k in range(4):
        r1 = spark.read.parquet(os.path.join(d1, f"shard={k}")).collect()
        r2 = spark.read.parquet(os.path.join(d2, f"shard={k}")).collect()
        assert r1 == r2  # byte-reproducible
        toks = [r["n_chars"] for r in r1]
        assert toks == sorted(toks)  # the curriculum schedule, per shard

    # membership identical to a hash-ordered export of the same salt
    dh = str(tmp_path / "h")
    write_training_shards(docs, dh, num_shards=4)
    a = spark.read.parquet(d1).select("doc_id", "shard")
    b = spark.read.parquet(dh).select("doc_id", "shard")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0

    # validation fails fast, before any job (ordering by the reserved
    # names is unreachable — a df carrying 'shard'/'__ord' is refused
    # outright by assign_shards/write_training_shards' ValueError,
    # pinned by the reserved-name cases in test_review_guards above)
    with pytest.raises(ValueError, match="order_by"):
        write_training_shards(docs, d1, num_shards=4, order_by=["nope"])


def test_extreme_shard_count_warns(spark, docs, tmp_path):
    """VERDICT r9 #4: past 10k shards the manifest is multi-MB and the
    stats collect is a num_shards-row driver pull — warn (the hard cap
    at 1M stays). The warning fires before any job (paired here with the
    empty-df refusal so no 10k-task export actually runs)."""
    d = str(tmp_path / "many")
    with pytest.warns(UserWarning, match="driver collect"):
        with pytest.raises(ValueError, match="empty"):
            write_training_shards(
                docs.filter(F.lit(False)), d, num_shards=10_001
            )
    # at or below the threshold: no warning
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        write_training_shards(docs.limit(5), str(tmp_path / "ok"), num_shards=8)


def test_descending_curriculum_keys(spark, docs, tmp_path):
    """A '-' prefix sorts that curriculum key DESCENDING (hardest-first
    schedules) — still byte-reproducible, membership unchanged."""
    d1, d2 = str(tmp_path / "dsc1"), str(tmp_path / "dsc2")
    write_training_shards(docs, d1, num_shards=4, order_by=["-n_chars"])
    write_training_shards(docs, d2, num_shards=4, order_by=["-n_chars"])
    m = json.loads(open(os.path.join(d1, "_SHARDS.json")).read())
    assert m["order"] == ["-n_chars"]
    for k in range(4):
        r1 = spark.read.parquet(os.path.join(d1, f"shard={k}")).collect()
        r2 = spark.read.parquet(os.path.join(d2, f"shard={k}")).collect()
        assert r1 == r2
        toks = [r["n_chars"] for r in r1]
        assert toks == sorted(toks, reverse=True)
    # validation sees through the prefix
    with pytest.raises(ValueError, match="'nope'"):
        write_training_shards(docs, d1, num_shards=4, order_by=["-nope"])


def test_read_training_shards_validates_and_prunes(spark, docs, tmp_path):
    """The loader-side reader: full roundtrip, partition-pruned shard
    subsets (only the requested directories are scanned), manifest-vs-
    tree validation catching missing/unknown/tampered shards, and the
    out-of-range world-size guard."""
    import shutil

    from schemamap_spark.sources.shards import read_training_shards

    d = str(tmp_path / "exp")
    write_training_shards(docs, d, num_shards=4, token_col="n_chars")

    # full read == corpus; empty-shard exports validate too
    assert read_training_shards(spark, d).count() == docs.count()
    tiny = str(tmp_path / "tiny")
    write_training_shards(docs.limit(5), tiny, num_shards=64)
    assert read_training_shards(spark, tiny, verify="counts").count() == 5

    # shard subset: rows match the manifest, and the scan is PRUNED to
    # the requested partitions (the IN-list rides PartitionFilters)
    m = json.loads(open(os.path.join(d, "_SHARDS.json")).read())
    want = {s["shard"]: s["rows"] for s in m["shards"]}
    sub = read_training_shards(spark, d, shards=[1, 3])
    assert sub.count() == want[1] + want[3]
    assert set(r["shard"] for r in sub.select("shard").distinct().collect()) == {1, 3}
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan.split("PartitionFilters", 1)[1][:200]

    # world-size disagreement is loud
    with pytest.raises(ValueError, match="outside"):
        read_training_shards(spark, d, shards=[0, 4])

    # an EMPTY assignment is loud too — it passes every range check and
    # would otherwise yield a silent zero-row read, which is almost
    # always a world-size arithmetic bug upstream (VERDICT r13 #3);
    # shards=None stays the whole-export spelling
    with pytest.raises(ValueError, match="shards=\\[\\]"):
        read_training_shards(spark, d, shards=[])
    # ... and the emptiness check must not DRAIN a one-shot iterable
    # assignment (review r14): a generator reads like the equivalent
    # list, and an empty generator still refuses
    gen = read_training_shards(spark, d, shards=(s for s in (1, 3)))
    assert gen.count() == want[1] + want[3]
    with pytest.raises(ValueError, match="shards=\\[\\]"):
        read_training_shards(spark, d, shards=(s for s in ()))

    # verify='counts' recounts from footers and matches the manifest
    assert read_training_shards(spark, d, verify="counts").count() == docs.count()

    # a MISSING shard dir refuses (partial overwrite)
    broken = str(tmp_path / "broken")
    shutil.copytree(d, broken)
    shutil.rmtree(os.path.join(broken, "shard=2"))
    with pytest.raises(ValueError, match="missing shard dirs \\[2\\]"):
        read_training_shards(spark, broken)

    # an UNKNOWN shard dir refuses (stray copy skewing the mixture) —
    # numeric out-of-range and non-numeric ('shard=1.bak') strays both
    stray = str(tmp_path / "stray")
    shutil.copytree(d, stray)
    shutil.copytree(os.path.join(stray, "shard=1"), os.path.join(stray, "shard=9"))
    with pytest.raises(ValueError, match="unknown shard dirs \\['shard=9'\\]"):
        read_training_shards(spark, stray)
    shutil.move(os.path.join(stray, "shard=9"), os.path.join(stray, "shard=1.bak"))
    with pytest.raises(ValueError, match="shard=1.bak"):
        read_training_shards(spark, stray)
    # ... but only under verify; verify=None reads what's there
    assert read_training_shards(spark, broken, verify=None).count() < docs.count()

    # TAMPERED rows (dir present, counts off) escape 'dirs' but not 'counts'
    tampered = str(tmp_path / "tampered")
    shutil.copytree(d, tampered)
    one = spark.read.parquet(os.path.join(tampered, "shard=2")).limit(1)
    one.write.mode("overwrite").parquet(os.path.join(tampered, "shard=2"))
    read_training_shards(spark, tampered)  # dirs-only: passes
    with pytest.raises(ValueError, match="row counts disagree"):
        read_training_shards(spark, tampered, verify="counts")
    # the recount is SCOPED to the requested shards: a worker reading
    # shards [0,1] doesn't pay for (or fail on) the tampered shard 2
    sub = read_training_shards(spark, tampered, shards=[0, 1], verify="counts")
    assert sub.count() == want[0] + want[1]

    # review r13 pass 4 (live-confirmed leak): shards= at FULL coverage
    # with verify=None must STILL restrict — stray out-of-range rows
    # must not ride in (the full-coverage IN-list skip is legal only on
    # the walks' counts scope, where the strays check already refused)
    leak = str(tmp_path / "leak")
    shutil.copytree(d, leak)
    shutil.copytree(os.path.join(leak, "shard=1"), os.path.join(leak, "shard=9"))
    full = read_training_shards(spark, leak, shards=[0, 1, 2, 3], verify=None)
    assert set(
        r["shard"] for r in full.select("shard").distinct().collect()
    ) == {0, 1, 2, 3}

    # no manifest -> loud, names the recovery; a TORN legacy manifest gets
    # the same designed refusal, not a raw JSONDecodeError
    os.unlink(os.path.join(broken, "_SHARDS.json"))
    with pytest.raises(ValueError, match="re-export"):
        read_training_shards(spark, broken)
    with open(os.path.join(broken, "_SHARDS.json"), "w") as f:
        f.write('{"num_shards": 4, "sh')
    with pytest.raises(ValueError, match="re-export"):
        read_training_shards(spark, broken)

    with pytest.raises(ValueError, match="verify"):
        read_training_shards(spark, d, verify="paranoid")


def test_alias_stray_dirs_and_scalar_manifest_refused(spark, docs, tmp_path):
    """Code-review r10 (pass 3, verified live): an ALIAS spelling of a
    known shard ('shard=01') canonicalizes onto shard 1 through int() and
    silently doubles its rows — verify='dirs' must refuse it like any
    other stray. A manifest torn down to a bare JSON scalar is 'no
    readable manifest', not a TypeError."""
    import shutil

    from schemamap_spark.sources.shards import read_training_shards

    d = str(tmp_path / "exp")
    write_training_shards(docs, d, num_shards=4)
    n_docs = docs.count()

    alias = str(tmp_path / "alias")
    shutil.copytree(d, alias)
    shutil.copytree(os.path.join(alias, "shard=1"), os.path.join(alias, "shard=01"))
    with pytest.raises(ValueError, match="shard=01"):
        read_training_shards(spark, alias)
    # without the refusal the read would inflate past the corpus
    assert read_training_shards(spark, alias, verify=None).count() > n_docs

    scalar = str(tmp_path / "scalar")
    shutil.copytree(d, scalar)
    with open(os.path.join(scalar, "_SHARDS.json"), "w") as f:
        f.write("42")  # parses, but is not a manifest
    with pytest.raises(ValueError, match="re-export"):
        read_training_shards(spark, scalar)
    # shard_stats falls back to recompute on the same input
    assert shard_stats(spark, scalar).agg(F.sum("rows")).first()[0] == n_docs


def test_read_manifest_classifies_py4j_missing_file():
    """VERDICT r11 #1b: the hdfs:// exists/read race in _read_manifest
    arrives as a py4j-wrapped FileNotFoundException, not an OSError —
    the r11 branch (shards.py `_read_manifest`, via
    fscommit.is_missing_file) must read it as "no readable manifest"
    (None, same as the local race), while any OTHER py4j failure
    (permissions, IO faults) propagates as itself. Driven through a
    minimal fs double whose read_text raises the fake py4j hierarchy —
    the same shape tests/test_ann_index.py pins for the ANN head reads
    (defined locally: importing another test module re-collects its
    tests under this module's fixtures)."""
    from schemamap_spark.sources.shards import _read_manifest

    class _JClass:
        def __init__(self, name, parent=None):
            self._n, self._p = name, parent

        def getName(self):
            return self._n

        def getSuperclass(self):
            return self._p

    _IOE = _JClass("java.io.IOException", _JClass("java.lang.Throwable"))
    _FNF = _JClass("java.io.FileNotFoundException", _IOE)
    _ACE = _JClass("org.apache.hadoop.security.AccessControlException", _IOE)

    class _JExc:
        def __init__(self, cls):
            self._c = cls

        def getClass(self):
            return self._c

        def getClassName(self):
            return None

    class FakePy4J(Exception):
        def __init__(self, msg, jexc):
            super().__init__(msg)
            self.java_exception = jexc

    class RacingFS:
        """exists() says yes; read_text raises — the swap race window."""

        def __init__(self, exc):
            self.exc = exc

        def exists(self, path):
            return True

        def read_text(self, path):
            raise self.exc

    fnf = FakePy4J("java.io.FileNotFoundException: swapped away", _JExc(_FNF))
    assert _read_manifest(RacingFS(fnf), "/x/exp") is None

    denied = FakePy4J(
        "org.apache.hadoop.security.AccessControlException: denied",
        _JExc(_ACE),
    )
    with pytest.raises(FakePy4J, match="denied"):
        _read_manifest(RacingFS(denied), "/x/exp")


def test_scramble_py_twin_matches_column(spark):
    """scramble_py must equal scramble_hash EXACTLY — the
    loader derives epoch schedules driver-side from the twin, and any
    drift would silently fork them from Spark-derived orders."""
    from schemamap_spark.operators.sampling import (
        knuth_hash,
        knuth_py,
        scramble_hash,
        scramble_py,
    )

    # NEGATIVE ids included (VERDICT r12 #3): read_shard_after feeds
    # int(after_id) straight into knuth_py — Python % ≡ pmod for any
    # sign by construction, pinned here in practice, not argued
    ids = spark.range(-2000, 2000).select(F.col("id").alias("doc_id"))
    for salt in (0, 1, 7, 1_000_003, 5 * 1_000_003 + 123):
        got = [
            r["h"]
            for r in ids.select(scramble_hash("doc_id", salt).alias("h"))
            .orderBy("doc_id")
            .collect()
        ]
        assert got == [scramble_py(i, salt) for i in range(-2000, 2000)]
        gotk = [
            r["h"]
            for r in ids.select(knuth_hash("doc_id", salt).alias("h"))
            .orderBy("doc_id")
            .collect()
        ]
        assert gotk == [knuth_py(i, salt) for i in range(-2000, 2000)]


def test_epoch_shard_order_permutes_without_rotations():
    """VERDICT r11 #4: the epoch schedule is a deterministic permutation,
    and successive epochs are NOT rotations of each other (the r10
    within-shard-order pin pattern, applied to the shard walk)."""
    from schemamap_spark.sources.shards import epoch_shard_order

    n = 16
    e0 = epoch_shard_order(n, 0)
    assert sorted(e0) == list(range(n))
    assert epoch_shard_order(n, 0) == e0  # re-derivable, no state
    for other in (
        epoch_shard_order(n, 1),
        epoch_shard_order(n, 2),
        epoch_shard_order(n, 0, seed=1),
    ):
        assert sorted(other) == list(range(n)) and other != e0
        doubled = other + other
        assert not any(doubled[i:i + n] == e0 for i in range(n))

    with pytest.raises(ValueError, match="positive"):
        epoch_shard_order(0, 0)
    with pytest.raises(ValueError, match=">= 0"):
        epoch_shard_order(4, -1)


def test_iter_training_epoch_walk_resume_and_ranks(spark, docs, tmp_path):
    """The loader walk contract: two walks of the same epoch are
    byte-identical; start=k+1 resumes with exactly the suffix; ranks
    stripe every epoch into disjoint covers; argument/manifest errors
    raise EAGERLY at the call (code-review r12 — not deep in the
    training loop at first next()), and a mutated export refuses at
    first iteration."""
    from schemamap_spark.sources.shards import (
        epoch_shard_order,
        iter_training_epoch,
    )

    d = str(tmp_path / "exp")
    write_training_shards(docs, d, num_shards=6)

    def walk(**kw):
        return [
            (pos, s, [r["doc_id"] for r in df.select("doc_id").collect()])
            for pos, s, df in iter_training_epoch(spark, d, 3, **kw)
        ]

    w1, w2 = walk(), walk()
    assert w1 == w2  # byte-identical re-walk
    # each yielded slice partition-prunes to its one shard directory
    _, _, df0 = next(iter_training_epoch(spark, d, 3))
    plan = df0._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters", 1)[1][:200]
    assert [(p, s) for p, s, _ in w1] == list(enumerate(epoch_shard_order(6, 3)))
    assert sorted(s for _, s, _ in w1) == list(range(6))

    # resume: positions >= 4 only, content identical to the full walk
    assert walk(start=4) == w1[4:]

    # rank striping: disjoint, position-interleaved, covers the epoch
    r0, r1 = walk(rank=0, world_size=2), walk(rank=1, world_size=2)
    assert [p for p, _, _ in r0] == [0, 2, 4]
    assert [p for p, _, _ in r1] == [1, 3, 5]
    assert sorted(r0 + r1) == w1
    # resume composes with striping: global position still the token
    assert walk(start=3, rank=0, world_size=2) == r0[2:]

    # eager: the bad call itself raises — no next() needed
    with pytest.raises(ValueError, match="both rank and world_size"):
        iter_training_epoch(spark, d, 0, rank=0)
    with pytest.raises(ValueError, match="outside"):
        iter_training_epoch(spark, d, 0, rank=2, world_size=2)

    # a mutated export refuses at first iteration, not silently mid-walk
    os.rename(os.path.join(d, "shard=5"), os.path.join(d, "shard=5.bak"))
    gen = iter_training_epoch(spark, d, 3)
    with pytest.raises(ValueError, match="shard=5.bak"):
        next(gen)


def test_interleave_epoch_walks_mixture_contract(spark, docs, tmp_path):
    """Schedule-level mixture: the interleaved walk visits every shard of
    every export exactly once, in an order satisfying the greedy deficit
    invariant — at each step the picked export had the MINIMAL
    emitted/weight among live exports (checked black-box from the
    yielded order + manifest sizes), so each source's emitted share
    tracks its weight to within one shard. Determinism, resume, and
    rank striping compose as in iter_training_epoch."""
    from schemamap_spark.sources.shards import (
        interleave_epoch_walks,
        iter_training_epoch,
        shard_stats,
    )

    web = str(tmp_path / "web")
    code = str(tmp_path / "code")
    write_training_shards(docs, web, num_shards=8, token_col="n_chars")
    write_training_shards(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000),
        code,
        num_shards=4,
        token_col="n_chars",
    )
    exports = {"web": (web, 3.0), "code": (code, 1.0)}

    def walk(**kw):
        return [
            (pos, n, s)
            for pos, n, s, _df in interleave_epoch_walks(
                spark, exports, epoch=1, **kw
            )
        ]

    w1 = walk()
    assert w1 == walk()  # deterministic re-derivation
    assert [p for p, _, _ in w1] == list(range(12))
    assert sorted((n, s) for _, n, s in w1) == sorted(
        [("web", s) for s in range(8)] + [("code", s) for s in range(4)]
    )

    # greedy deficit invariant, from manifests alone
    sizes = {
        n: {
            r["shard"]: max(1, r["tokens"])
            for r in shard_stats(spark, d).collect()
        }
        for n, (d, _w) in exports.items()
    }
    weights = {n: w for n, (_d, w) in exports.items()}
    emitted = {n: 0 for n in exports}
    remaining = {n: len(sizes[n]) for n in exports}
    for _pos, name, s in w1:
        live = [n for n in exports if remaining[n] > 0]
        best = min(emitted[n] / weights[n] for n in live)
        assert emitted[name] / weights[name] == best
        emitted[name] += sizes[name][s]
        remaining[name] -= 1

    # rows actually ride the schedule: every doc of both corpora, once
    n_docs = docs.count()
    total = sum(
        df.count() for _, _, _, df in interleave_epoch_walks(spark, exports, 1)
    )
    assert total == 2 * n_docs

    # resume + striping over interleaved positions
    assert walk(start=5) == w1[5:]
    r0, r1 = walk(rank=0, world_size=2), walk(rank=1, world_size=2)
    assert sorted(r0 + r1) == w1
    assert [p % 2 for p, _, _ in r0] == [0] * len(r0)

    with pytest.raises(ValueError, match="weight"):
        interleave_epoch_walks(spark, {"w": (web, 0.0)}, 0)
    # NaN passes `w <= 0` but poisons min() — must refuse eagerly
    with pytest.raises(ValueError, match="finite"):
        interleave_epoch_walks(spark, {"w": (web, float("nan"))}, 0)
    with pytest.raises(ValueError, match="'ghost'"):
        interleave_epoch_walks(
            spark, {"ghost": (str(tmp_path / "nope"), 1.0)}, 0
        )
    # a typo'd verify raises at the CALL, even when the stripe is empty
    with pytest.raises(ValueError, match="verify"):
        interleave_epoch_walks(spark, exports, 0, verify="count")
    with pytest.raises(ValueError, match="verify"):
        iter_training_epoch(spark, web, 0, verify="count", start=10**6)

    # ONE size unit across the mixture: an export without token_col
    # flips the WHOLE schedule to rows (tokens vs rows would quietly
    # destroy the deficit invariant); re-check the invariant in rows
    plain = str(tmp_path / "plain")
    write_training_shards(docs, plain, num_shards=4)  # no token_col
    mixed = {"web": (web, 1.0), "plain": (plain, 1.0)}
    seq = [
        (n, s)
        for _, n, s, _df in interleave_epoch_walks(spark, mixed, epoch=0)
    ]
    row_sizes = {
        n: {
            r["shard"]: max(1, r["rows"])
            for r in shard_stats(spark, d).collect()
        }
        for n, (d, _w) in mixed.items()
    }
    em = {n: 0 for n in mixed}
    rem = {n: len(row_sizes[n]) for n in mixed}
    for name, s in seq:
        live = [n for n in mixed if rem[n] > 0]
        assert em[name] == min(em[n] for n in live)  # equal weights
        em[name] += row_sizes[name][s]
        rem[name] -= 1

    # a parseable manifest missing a shard entry refuses loudly
    torn = str(tmp_path / "torn")
    write_training_shards(docs, torn, num_shards=4, token_col="n_chars")
    mpath = os.path.join(torn, "_SHARDS.json")
    m = json.loads(open(mpath).read())
    m["shards"] = m["shards"][:-1]
    open(mpath, "w").write(json.dumps(m))
    with pytest.raises(ValueError, match="'torn_x'"):
        interleave_epoch_walks(spark, {"torn_x": (torn, 1.0)}, 0)
    # a DUPLICATE entry collapses in the dict, leaving the shard SET
    # complete — only the raw length check catches it (review pass 2)
    m2 = json.loads(open(os.path.join(web, "_SHARDS.json")).read())
    m2["shards"] = m2["shards"] + [dict(m2["shards"][-1])]
    dup = str(tmp_path / "dup")
    import shutil as _sh

    _sh.copytree(web, dup)
    open(os.path.join(dup, "_SHARDS.json"), "w").write(json.dumps(m2))
    with pytest.raises(ValueError, match="9 entries"):
        interleave_epoch_walks(spark, {"dup_x": (dup, 1.0)}, 0)


def test_read_shard_after_mid_shard_resume(spark, docs, tmp_path):
    """Mid-shard resume: for both order modes the returned rows are
    EXACTLY the suffix after the token in the export's recorded order
    (expected order re-derived independently — scramble_py for hash-v2,
    Python sort for the curriculum), and invalid tokens (wrong shard,
    unknown id, scan-order export) refuse loudly."""
    from schemamap_spark.operators.sampling import knuth_py, scramble_py
    from schemamap_spark.sources.shards import read_shard_after

    # hash-v2 export
    d = str(tmp_path / "hash")
    write_training_shards(docs, d, num_shards=4, salt=7)
    ids = [
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(d, "shard=2")).collect()
    ]
    assert all(knuth_py(i, 7) % 4 == 2 for i in ids)  # twin sanity
    expect = sorted(ids, key=lambda i: (scramble_py(i, 7), i))
    mid_hash = mid = expect[len(expect) // 2]
    got = [
        r["doc_id"]
        for r in read_shard_after(spark, d, 2, mid).select("doc_id").collect()
    ]
    assert got == expect[len(expect) // 2 + 1:]  # exact ORDERED suffix
    # unordered variant returns the same SET
    got_set = {
        r["doc_id"]
        for r in read_shard_after(spark, d, 2, mid, ordered=False).collect()
    }
    assert got_set == set(got)
    assert read_shard_after(spark, d, 2, expect[-1]).count() == 0

    # curriculum export with a DESCENDING key
    dc = str(tmp_path / "curr")
    write_training_shards(docs, dc, num_shards=4, order_by=["-n_chars"])
    rows = spark.read.parquet(os.path.join(dc, "shard=1")).collect()
    seq = sorted(rows, key=lambda r: (-r["n_chars"], r["doc_id"]))
    mid = seq[len(seq) // 3]
    got = [
        (r["n_chars"], r["doc_id"])
        for r in read_shard_after(spark, dc, 1, mid["doc_id"])
        .select("n_chars", "doc_id")
        .collect()
    ]
    assert got == [
        (r["n_chars"], r["doc_id"]) for r in seq[len(seq) // 3 + 1:]
    ]

    # null curriculum keys: desc places nulls LAST — resuming from a
    # non-null row must include the null-key tail
    nd = str(tmp_path / "nulls")
    ndf = spark.createDataFrame(
        [(i, None if i % 5 == 0 else i * 10) for i in range(40)],
        "doc_id long, score long",
    )
    write_training_shards(ndf, nd, num_shards=1, order_by=["-score"])
    nrows = spark.read.parquet(os.path.join(nd, "shard=0")).collect()
    nseq = [r["doc_id"] for r in nrows]  # exporter's materialized order
    assert [r["doc_id"] for r in nrows if r["score"] is None] == nseq[-8:]
    tok = nseq[len(nseq) // 2]
    got = [
        r["doc_id"]
        for r in read_shard_after(spark, nd, 0, tok).select("doc_id").collect()
    ]
    assert got == nseq[nseq.index(tok) + 1:]

    # token validation
    wrong = ids[0]  # an id of shard 2
    with pytest.raises(ValueError, match="belongs to shard"):
        read_shard_after(spark, d, 3, wrong)
    ghost = next(
        i for i in range(10**7, 10**7 + 10**4) if knuth_py(i, 7) % 4 == 2
    )
    with pytest.raises(ValueError, match="not in shard"):
        read_shard_after(spark, d, 2, ghost)
    ds = str(tmp_path / "scan")
    write_training_shards(docs, ds, num_shards=2, shuffle=False)
    sid = next(iter(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(ds, "shard=0")).limit(1).collect()
    ))
    with pytest.raises(ValueError, match="scan"):
        read_shard_after(spark, ds, 0, sid)

    # duplicate copies of a token share one sort key in EITHER order
    # mode — the strictly-after filter would silently DROP the
    # unprocessed second copy; both modes refuse (review passes 3-4).
    # The duplicated row is pinned by explicit id (limit() without
    # orderBy is not deterministic across plans)
    dup_id = min(r["doc_id"] for r in docs.select("doc_id").collect())
    small = docs.filter(F.col("doc_id") < dup_id + 50)
    ddf = small.union(small.filter(F.col("doc_id") == dup_id))
    dupd = str(tmp_path / "dup_hash")
    write_training_shards(ddf, dupd, num_shards=1, salt=7)
    with pytest.raises(ValueError, match="more than once"):
        read_shard_after(spark, dupd, 0, dup_id)
    dupc = str(tmp_path / "dup_curr")
    write_training_shards(ddf, dupc, num_shards=1, order_by=["n_chars"])
    with pytest.raises(ValueError, match="more than once"):
        read_shard_after(spark, dupc, 0, dup_id)

    # DETERMINISTIC hash-tie pin (review r14): ids B and B + 2^31 share
    # the scramble hash exactly (knuth reduces mod 2^31 first), so the
    # strictly-after filter's tie-break clause — id > token at equal
    # hash — is the ONLY thing separating them. Cutting on the smaller
    # twin must keep the unprocessed larger twin; cutting on the larger
    # must drop the smaller. Dropping the tie-break term from
    # read_shard_after would fail HERE every run, not probabilistically
    from schemamap_spark.operators.sampling import scramble_py as _spy

    B = 42
    tie_ids = [B, B + 2**31, 7, 9000, 123456]
    tdf = spark.createDataFrame([(i,) for i in tie_ids], "doc_id long")
    td = str(tmp_path / "tied")
    write_training_shards(tdf, td, num_shards=1)
    assert _spy(B, 0) == _spy(B + 2**31, 0)  # the tie is real
    torder = sorted(tie_ids, key=lambda i: (_spy(i, 0), i))
    kq = torder.index(B)
    assert torder[kq + 1] == B + 2**31  # twins adjacent, smaller first
    got = [
        r["doc_id"]
        for r in read_shard_after(spark, td, 0, B).select("doc_id").collect()
    ]
    assert got == torder[kq + 1:] and got[0] == B + 2**31
    got2 = [
        r["doc_id"]
        for r in read_shard_after(spark, td, 0, B + 2**31)
        .select("doc_id")
        .collect()
    ]
    assert got2 == torder[kq + 2:] and B not in got2

    # an unknown/missing order tag refuses instead of falling into the
    # curriculum branch (legacy pre-order manifests, future revisions)
    import shutil as _sh

    leg = str(tmp_path / "legacy")
    _sh.copytree(d, leg)
    mp = os.path.join(leg, "_SHARDS.json")
    lm = json.loads(open(mp).read())
    del lm["order"]
    open(mp, "w").write(json.dumps(lm))
    with pytest.raises(ValueError, match="order=None"):
        read_shard_after(spark, leg, 2, mid_hash)
    lm["order"] = "hash-v3"
    open(mp, "w").write(json.dumps(lm))
    with pytest.raises(ValueError, match="hash-v3"):
        read_shard_after(spark, leg, 2, mid_hash)


def test_read_shard_after_negative_ids(spark, tmp_path):
    """VERDICT r12 #3, second half: the resume-token path feeds
    int(after_id) into knuth_py and the cut point into scramble_py — a
    wholly NEGATIVE-id export must round-trip membership and resume
    exactly (Python % ≡ pmod in practice, on the real code path, not
    just in the hash twin pin)."""
    from schemamap_spark.operators.sampling import knuth_py, scramble_py
    from schemamap_spark.sources.shards import read_shard_after

    ndf = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(-120, -20)],
        "doc_id long, n_chars long",
    )
    d = str(tmp_path / "neg")
    write_training_shards(ndf, d, num_shards=3, salt=5)
    k = knuth_py(-120, 5) % 3  # a shard known non-empty, twin-derived
    ids = [
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(d, f"shard={k}")).collect()
    ]
    assert ids and all(i < 0 for i in ids)
    assert all(knuth_py(i, 5) % 3 == k for i in ids)  # twin membership
    expect = sorted(ids, key=lambda i: (scramble_py(i, 5), i))
    mid = expect[len(expect) // 2]
    got = [
        r["doc_id"]
        for r in read_shard_after(spark, d, k, mid).select("doc_id").collect()
    ]
    assert got == expect[len(expect) // 2 + 1:]
    # a negative token from the WRONG shard still refuses
    other = next(i for i in range(-120, -20) if knuth_py(i, 5) % 3 != k)
    with pytest.raises(ValueError, match="belongs to shard"):
        read_shard_after(spark, d, k, other)


def test_walks_resolve_tree_and_manifest_once(spark, docs, tmp_path, monkeypatch):
    """VERDICT r12 #1 pin: with verify enabled, an epoch walk reads the
    manifest EXACTLY once and resolves the parquet tree EXACTLY once
    (per export, for the mixture walk) — validation shares the walk's
    own resolution instead of paying a second tree listing, which at
    the 25k+-shard regime is the expensive driver step. Counted through
    an fs double (manifest read / tree strays listing) and a counting
    DataFrameReader.parquet (dataset resolution)."""
    from pyspark.sql.readwriter import DataFrameReader

    from schemamap_spark.sources import fscommit
    from schemamap_spark.sources.shards import (
        interleave_epoch_walks,
        iter_training_epoch,
        read_training_shards,
    )

    d = str(tmp_path / "exp")
    d2 = str(tmp_path / "exp2")
    write_training_shards(docs, d, num_shards=4, token_col="n_chars")
    write_training_shards(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000),
        d2,
        num_shards=2,
        token_col="n_chars",
    )

    fs_counts: dict[str, int] = {}

    class CountingFS:
        """Delegating double over the real fs, counting every call."""

        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            attr = getattr(self._inner, name)
            if not callable(attr):
                return attr

            def wrapped(*a, **k):
                fs_counts[name] = fs_counts.get(name, 0) + 1
                return attr(*a, **k)

            return wrapped

    real_fs_for = fscommit.fs_for
    monkeypatch.setattr(
        fscommit, "fs_for", lambda p, s=None: CountingFS(real_fs_for(p, s))
    )
    parquet_calls: list = []
    orig_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **kw):
        parquet_calls.append(paths)
        return orig_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)

    # isin() pays one py4j literal per element — the walks must never
    # build the walk-wide IN-list Column (review r13: ~43s of discarded
    # construction at a 100k-shard walk); count isin calls too. Patch
    # the CONCRETE Column class (type of a real Column): PySpark 4's
    # classic implementation overrides the abstract base's isin, so a
    # base-class patch never fires (verified — it counted 0 everywhere)
    ColumnCls = type(F.col("shard"))
    isin_calls: list = []
    orig_isin = ColumnCls.isin

    def counting_isin(self, *a, **k):
        isin_calls.append(a)
        return orig_isin(self, *a, **k)

    monkeypatch.setattr(ColumnCls, "isin", counting_isin)

    def _reset():
        fs_counts.clear()
        parquet_calls.clear()
        isin_calls.clear()

    # single-export walk, all three verify modes: 1 manifest read, 1 tree
    # resolution, ZERO IN-list Columns (the full-epoch counts recount
    # covers every shard — full coverage skips the no-op filter) —
    # consuming every yielded slice adds none. verify=None must do ZERO
    # strays listings — the no-verify fast path gains a tree listing only
    # by regression (VERDICT r13 #2); the verifying modes do exactly one
    for mode in (None, "dirs", "counts"):
        _reset()
        out = list(iter_training_epoch(spark, d, epoch=1, verify=mode))
        assert len(out) == 4
        assert sum(df.count() for *_, df in out) == docs.count()
        assert fs_counts.get("read_text", 0) == 1, (mode, fs_counts)
        want_listdir = 0 if mode is None else 1
        assert fs_counts.get("listdir", 0) == want_listdir, (mode, fs_counts)
        assert len(parquet_calls) == 1, (mode, parquet_calls)
        assert len(isin_calls) == 0, (mode, isin_calls)

    # a STRIPED counts walk still scopes its recount with one IN-list
    _reset()
    out = list(
        iter_training_epoch(spark, d, epoch=1, verify="counts", rank=0, world_size=2)
    )
    assert len(out) == 2 and len(parquet_calls) == 1
    assert len(isin_calls) == 1

    # mixture walk over two exports: one of each PER EXPORT, no IN-lists
    _reset()
    exports = {"web": (d, 3.0), "code": (d2, 1.0)}
    out = list(interleave_epoch_walks(spark, exports, epoch=1))
    assert len(out) == 6
    assert sum(df.count() for *_, df in out) == 2 * docs.count()
    assert fs_counts.get("read_text", 0) == 2
    assert fs_counts.get("listdir", 0) == 2
    assert len(parquet_calls) == 2
    assert len(isin_calls) == 0

    # the plain reader is unchanged: 1 + 1 + 1, and its partial-shards
    # restriction still rides one IN-list (the PartitionFilters pin in
    # test_read_training_shards_validates_and_prunes covers the plan)
    _reset()
    assert read_training_shards(spark, d, shards=[1]).count() > 0
    assert fs_counts.get("read_text", 0) == 1
    assert fs_counts.get("listdir", 0) == 1
    assert len(parquet_calls) == 1
    assert len(isin_calls) == 1


def test_walk_refuses_reexport_across_creation_seam(spark, docs, tmp_path):
    """The walk's eager-manifest / lazy-validation seam: an export
    REPLACED between iter_training_epoch() and the first next() — an
    ops mistake a long-running training loop can realistically make —
    refuses at first iteration instead of silently walking the new tree
    with the old schedule. verify='dirs' catches a changed shard
    layout; verify='counts' catches even a same-shape re-export whose
    per-shard row counts moved. (A re-export with IDENTICAL counts is
    indistinguishable by design — the manifest is the contract.)"""
    from schemamap_spark.sources.shards import iter_training_epoch

    d = str(tmp_path / "exp")
    write_training_shards(docs, d, num_shards=4, token_col="n_chars")

    # same shard count, different corpus: counts mode refuses. NOT a
    # doc_id % 2 filter: knuth_hash preserves id mod 4 (KNUTH ≡ 1 mod
    # 4), so even-only ids would EMPTY shards 1 and 3 and trip the dirs
    # check instead of the counts check this case exists to pin
    walk = iter_training_epoch(spark, d, epoch=0, verify="counts")
    most = docs.filter(F.col("doc_id") % 7 != 0)
    write_training_shards(most, d, num_shards=4, token_col="n_chars")
    with pytest.raises(ValueError, match="row counts disagree"):
        next(walk)

    # changed shard count: even dirs mode refuses (manifest/tree drift)
    walk2 = iter_training_epoch(spark, d, epoch=0, verify="dirs")
    write_training_shards(docs, d, num_shards=2, token_col="n_chars")
    with pytest.raises(ValueError, match="disagrees with its manifest"):
        next(walk2)


def test_mixture_edit_reshuffles_schedule(spark, docs, tmp_path):
    """VERDICT r12 #4 pin: per-export epoch salts are
    seed*len(exports)+i over the sorted names, so editing the mixture
    re-salts the schedule — same exports → same schedule, but adding
    one export generally re-permutes the OTHER exports' shard orders
    too (always: any export sorted after the insertion point, and every
    export when seed > 0). Resume tokens do not survive mixture edits;
    restart the epoch at start=0 after editing `exports`."""
    from schemamap_spark.sources.shards import interleave_epoch_walks

    web = str(tmp_path / "web")
    code = str(tmp_path / "code")
    extra = str(tmp_path / "extra")
    write_training_shards(docs, web, num_shards=8, token_col="n_chars")
    write_training_shards(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000),
        code,
        num_shards=4,
        token_col="n_chars",
    )
    write_training_shards(
        docs.withColumn("doc_id", F.col("doc_id") + 2_000_000),
        extra,
        num_shards=2,
        token_col="n_chars",
    )

    def order_of(exports, name, seed):
        return [
            s
            for _, n, s, _df in interleave_epoch_walks(
                spark, exports, epoch=2, seed=seed, verify=None
            )
            if n == name
        ]

    two = {"web": (web, 1.0), "code": (code, 1.0)}
    three = {**two, "extra": (extra, 1.0)}
    # same mixture → same schedule (re-derivable, no state)
    assert order_of(two, "web", 1) == order_of(two, "web", 1)
    # seed > 0: adding an export re-permutes EVERY existing export
    assert order_of(two, "web", 1) != order_of(three, "web", 1)
    assert order_of(two, "code", 1) != order_of(three, "code", 1)
    # the documented seed=0 subtlety: salts collapse to the sorted
    # position alone, so an export sorted BEFORE the insertion point
    # ('code' < 'extra') keeps its order while one after ('web') moves
    assert order_of(two, "web", 0) != order_of(three, "web", 0)
    assert order_of(two, "code", 0) == order_of(three, "code", 0)


def test_rank_striped_mixture_share(spark, docs, tmp_path):
    """VERDICT r12 #5 pin: position striping at world_size 4 hands each
    rank a subsequence that still tracks the mixture weights while both
    exports are live — no rank is source-starved, and each rank's
    token share stays within the striping-lag tolerance
    (world_size·max_shard_size over the rank's emitted total) of the
    weight share. Checked over a 48/24-shard mixture so each rank owns
    ~14 live-prefix picks (the 8/4 mixture in the contract test is too
    short: a rank can legitimately see one source only)."""
    from schemamap_spark.sources.shards import (
        interleave_epoch_walks,
        shard_stats,
    )

    web = str(tmp_path / "web48")
    code = str(tmp_path / "code24")
    write_training_shards(docs, web, num_shards=48, token_col="n_chars")
    write_training_shards(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000),
        code,
        num_shards=24,
        token_col="n_chars",
    )
    exports = {"web": (web, 3.0), "code": (code, 1.0)}
    w1 = [
        (p, n, s)
        for p, n, s, _df in interleave_epoch_walks(
            spark, exports, epoch=1, verify=None
        )
    ]
    sizes = {
        n: {
            r["shard"]: max(1, r["tokens"])
            for r in shard_stats(spark, d).collect()
        }
        for n, (d, _w) in exports.items()
    }
    # the weighted regime holds only while BOTH exports are live: cut
    # the schedule at the first exhaustion
    last = {n: max(p for p, n2, _ in w1 if n2 == n) for n in exports}
    prefix = [t for t in w1 if t[0] <= min(last.values())]
    max_sz = max(max(d.values()) for d in sizes.values())
    target = 3.0 / 4.0  # web weight share
    ws = 4
    for rank in range(ws):
        sub = [(n, s) for p, n, s in prefix if p % ws == rank]
        tok = {
            n: sum(sizes[n][s] for n2, s in sub if n2 == n) for n in exports
        }
        # never source-starved within the live prefix
        assert tok["web"] > 0 and tok["code"] > 0, (rank, sub)
        tot = sum(tok.values())
        assert abs(tok["web"] / tot - target) <= ws * max_sz / tot, (
            rank,
            tok,
        )


def test_deficit_schedule_exact_past_2_53():
    """ADVICE r12: the greedy pick compares deficits EXACTLY (integer
    emitted over Fraction weight), so the minimal-deficit invariant
    holds past 2^53 where float division collapses adjacent totals. At
    step 3 the exact deficits are a=2^53+1 vs x=2^53 (pick x); under
    float division a's ratio rounds down to 2^53, ties, and the name
    tiebreak would wrongly pick 'a'."""
    from schemamap_spark.sources.shards import _deficit_schedule

    big = 2 ** 53
    assert float(big + 1) == float(big)  # the collapse being guarded
    sizes = {"a": [(0, big + 1), (1, 5)], "x": [(0, big), (1, 5)]}
    sched = _deficit_schedule(sizes, {"a": 1.0, "x": 1.0})
    assert sched == [("a", 0), ("x", 0), ("x", 1), ("a", 1)]


def test_deficit_schedule_exact_at_ordinary_weights():
    """Review r13: exactness is NOT only a >2^53 concern — ordinary
    weights whose ratios falsely tie in binary64 also diverge from the
    float scheduler. Here 1/0.1 == 5/0.5 == 10.0 exactly in floats,
    but as exact rationals 1/Fraction(0.1) < 5/Fraction(0.5) (0.1's
    float value is slightly above 1/10), so after [a0, x0] the exact
    scheduler picks x again where float's false tie fell to the name
    break ('a'). Pins the documented contract that the r13 scheduler
    may reorder r12 float schedules — cross-version interleave resume
    tokens require a start=0 restart."""
    from fractions import Fraction

    from schemamap_spark.sources.shards import _deficit_schedule

    sizes = {
        "a": [(0, 5), (1, 5), (2, 5)],
        "x": [(0, 1), (1, 1), (2, 1)],
    }
    weights = {"a": 0.5, "x": 0.1}
    # the float false tie this guards against (and the true rationals)
    assert 5 / 0.5 == 1 / 0.1
    assert 1 / Fraction(0.1) < 5 / Fraction(0.5)
    sched = _deficit_schedule(sizes, weights)
    assert sched[:3] == [("a", 0), ("x", 0), ("x", 1)]
    # every shard still visited exactly once
    assert sorted(sched) == sorted(
        [("a", s) for s in range(3)] + [("x", s) for s in range(3)]
    )
