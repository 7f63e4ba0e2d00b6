"""Persisted IVF-PQ ANN index store — build once, append daily, search always.

The third daily-ingest store next to the dedup fingerprint store and the
sketch/stats stores: at 100 TB the embedding corpus cannot be re-encoded
per query session. The index is three artifacts under one directory:

- `codes/` + `batch_*/`  — parquet (id, cell, codes): ~m bytes + 4 per
  vector; `codes/` from the build, one `batch_*` dir per committed append
- the MANIFEST — a versioned commit log (`manifest.v{n}.json`, immutable
  once claimed; `manifest.json` is a convenience snapshot of the head)
  listing the COMMITTED code dirs plus each batch's per-cell occupancy,
  optional idempotency `batch_token`s, and the `superseded` grace-period
  ledger left by compaction. Readers resolve the store through the
  manifest head, so a half-written append (crash, concurrent reader) is
  simply invisible until its commit claims the next version — and
  because each version is claimed with an atomic create-exclusive rename
  and derives from the version it replaces, CONCURRENT appends serialize
  cleanly instead of clobbering each other (the Delta-style log
  discipline, sized down to one JSON per commit). Because a batch's
  token commits in the SAME version as its dir, at-least-once drivers
  (streaming foreachBatch replays, retried orchestrator tasks) get
  exactly-once store contents. A `manifest.format` marker declares the
  protocol (format 2); pre-format-2 writers (which committed by replacing
  `manifest.json` directly) must be DRAINED before a format-2 writer
  touches a shared store — their replace-commit is invisible to format-2
  readers and the next snapshot refresh would orphan their batch.
- `meta.json` — codebooks + coarse centroids + params + the BUILD's
  per-cell occupancy (the trained distribution), written once at build.

Append-consistency is structural: ivf_pq_encode is a pure function of
(vectors, codebooks, centroids), so a batch encoded tomorrow lands in the
same cells with the same codes as if it had been in the build — pinned by
test (build(b1)+append(b2) == one-shot encode over b1∪b2). The trade is
also the honest one: codebooks/centroids are trained on the FIRST build's
distribution; drift is now MEASURED, not hoped about — every append
records its cell occupancy, `ann_index_drift` reports the total-variation
distance between the appended mass and the trained distribution, and
search warns past `drift_warn` (re-build is cheap: one encode pass).

Search loads meta (driver, bounded) and runs ivf_pq_search_encoded over the
manifested code dirs — the stacked-ADC scorer, reading ~nprobe/C of the
store.

Filesystem contract: the store commits through sources/fscommit — plain
paths use os.rename (driver-local posix), ``scheme://`` paths route
through the Hadoop FileSystem API on the session JVM, atomic on
real-rename filesystems (``hdfs://``, ``file://``); copy+delete schemes
(``s3a://`` …) still raise loudly rather than corrupting silently.
"""

from __future__ import annotations

import json
import threading
import time
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schemamap_spark.operators.embeddings import (
    ivf_centroids,
    ivf_pq_encode,
    ivf_pq_search_encoded,
    pq_train,
)
from schemamap_spark.sources import fscommit
from schemamap_spark.sources.fscommit import basename, join

_META = "meta.json"
_MANIFEST = "manifest.json"
# Declares the commit protocol in force (written at build / first
# versioned commit): format 2 = versioned commit log, manifest.json is
# only a convenience snapshot. Pre-format-2 writers committed by atomic
# REPLACE of manifest.json — against a format-2 store that write is
# invisible to readers (the head lives in the version files) and the next
# versioned commit's snapshot refresh overwrites it, orphaning the old
# writer's batch for GC to delete. The marker is ENFORCED pre-claim by
# this code (_check_format: a store declaring a format other than 2
# refuses every commit) and gives deployment tooling the same refusal
# hook; the operational rule is DRAIN pre-format-2 writers
# before any format-2 writer touches a shared store (migration itself is
# lossless: the first versioned commit derives from the manifest.json
# snapshot, folding every legacy dir into version 1).
_FORMAT_MARKER = "manifest.format"
_CODES = "codes"


class ConcurrentWriteError(RuntimeError):
    """The manifest version claim was lost every retry — pathological
    commit contention (far beyond the couple of writers the store is
    meant for). The committer's batch dir is on disk but unreferenced
    (GC collects it); retry the operation, or reduce the writer count."""


def _cell_occupancy(spark: SparkSession, codes_dir: str) -> dict[str, int]:
    """Per-cell row counts of one committed code dir — num_centroids rows,
    read back column-pruned from the just-written parquet (cheaper than
    re-encoding, and it counts what is actually on disk)."""
    rows = (
        spark.read.parquet(codes_dir).groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    ).collect()
    return {str(r["cell"]): r["n"] for r in rows}


def ann_index_build(
    emb: DataFrame,
    index_dir: str,
    m: int = 8,
    k_per_sub: int = 64,
    num_centroids: int = 16,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
) -> None:
    """Train codebooks + coarse centroids on `emb`, encode it, persist the
    store. The WHOLE index (codes + manifest + meta) builds in a temp dir
    and swaps into place atomically (the warehouse _swap_into_place
    recipe), so a crashed or concurrent REBUILD can never pair old
    codebooks with new codes — readers see the previous complete index
    until the swap. The build's per-cell occupancy is recorded in meta as
    the trained distribution that appends are measured against.

    centroids='kmeans' (the DEFAULT) trains the coarse router with
    k-means instead of the deterministic sample — measurably better cell
    routing on clustered corpora (SCALE.md 'ANN store probe', 220k
    mixture corpus: recall@10 at nprobe=16+rerank 0.626→0.747
    sampled→kmeans; the trained router reaches at nprobe=16 what the
    sampled one needs nprobe=32 for — HALF the probed fraction, paid on
    every search for the store's lifetime) at the cost of one extra
    training pass at build time (9.1s→11.3s at 220k×64d). A store is
    built once and searched forever, so the default takes the
    search-side win; pass centroids='sample' when the build cost itself
    binds (one-shot throwaway stores, CI fixtures) or the corpus is
    near-uniform (sampling loses nothing without cluster structure).
    Appends/searches are router-agnostic: they read whatever centers the
    build recorded."""
    from schemamap_spark.sources.sinks import _swap_into_place

    spark = emb.sparkSession
    fs = fscommit.fs_for(index_dir, spark)
    books = pq_train(emb, vec_col, id_col, m, k_per_sub, sample)
    cents = ivf_centroids(emb, num_centroids, id_col, vec_col, centroids)
    encoded = ivf_pq_encode(emb, books, cents, id_col, vec_col)
    tmp_dir = fs.mktempdir(fscommit.dirname(index_dir), ".index_new_")
    codes_tmp = join(tmp_dir, _CODES)
    encoded.write.mode("overwrite").parquet(codes_tmp)
    meta = {
        "codebooks": books,
        "centroids": cents,
        "m": m,
        "k_per_sub": k_per_sub,
        "num_centroids": num_centroids,
        "coarse_router": centroids,
        "id_col": id_col,
        "vec_col": vec_col,
        "cell_occupancy": _cell_occupancy(spark, codes_tmp),
    }
    import uuid

    fs.write_text(join(tmp_dir, _META), json.dumps(meta))
    # store_id names THIS build: every merge derives {**head, ...} so the
    # id rides through all later versions, letting a committer detect that
    # the store was REPLACED at the same path even when the replacement's
    # version counter has already overtaken the old watermark (the format
    # cache's invalidation hook — see _commit_manifest_merge)
    manifest0 = {
        "dirs": [{"name": _CODES}],
        "version": 1,
        "store_id": uuid.uuid4().hex,
    }
    fs.write_text(join(tmp_dir, _version_name(1)), json.dumps(manifest0))
    fs.write_text(join(tmp_dir, _MANIFEST), json.dumps(manifest0))
    fs.write_text(join(tmp_dir, _FORMAT_MARKER), "2\n")
    _swap_into_place(tmp_dir, index_dir, fs)
    # this process just recreated the store: any cached format verdict or
    # head watermark describes the PREVIOUS store at this path
    with _store_lock(index_dir):
        _FORMAT_STATE.pop(index_dir, None)
        _HEAD_SEEN.pop(index_dir, None)


def _fs_for(index_dir: str, spark=None):
    return fscommit.fs_for(index_dir, spark)


def _load_meta(index_dir: str, fs=None) -> dict:
    fs = fs or _fs_for(index_dir)
    path = join(index_dir, _META)
    if not fs.exists(path):
        raise ValueError(f"no ANN index at {index_dir} (missing {_META})")
    return json.loads(fs.read_text(path))


_MANIFEST_V_PREFIX = "manifest.v"
# committed versions retained behind the head. Deep on purpose — it bounds
# BOTH races the log has left: (a) a reader resolves the head by
# listdir-then-read, unsafe only if more than `keep` commits land between
# the two (its picked head gets pruned; the _load_manifest retry then
# re-resolves); (b) a writer claims head+1 from its own fresh read,
# unsafe only if more than `keep` commits land between ITS read and claim
# (head+1 would be pruned and the exclusive create would succeed on the
# freed slot, forking history). Both windows are a few milliseconds of
# driver work; 64 commits inside them means >6,000 commits/s against a
# store that measures ~20-50/s under a 24-thread storm (ann_race_probe).
# 64 one-KB JSONs of history are noise next to one code batch.
_MANIFEST_V_KEEP = 64


def _entry_tokens(d: dict) -> list:
    """Every idempotency token a manifest entry carries: `batch_token`
    (an uncompacted append) plus `batch_tokens` (a fold's preserved
    set). The ONE definition of token carriage — the append replay
    scan, the twin check, compact's fold collection, and the
    cross-process probe's invariants (tools/ann_mp_probe.py) all
    extract through it, so a future change to the token shape cannot
    leave one consumer verifying different semantics than the store
    implements (review r16). The presence test is `is not None`, NOT
    truthiness: ann_index_append accepts any non-None token (its guard
    is `batch_token is not None`), so an empty-string token is a real
    token — a truthy check would silently drop it here and a replay
    would commit duplicate rows (review r16 pass 5 caught exactly that
    regression against the pre-helper inline code)."""
    toks = list(d.get("batch_tokens", ()))
    if d.get("batch_token") is not None:
        toks.append(d["batch_token"])
    return toks


def _version_name(n: int) -> str:
    return f"{_MANIFEST_V_PREFIX}{n:08d}.json"


def _head_version(index_dir: str, fs) -> int:
    """Highest committed manifest version (0 = pre-versioned store)."""
    best = 0
    for nm in fs.listdir(index_dir):
        if nm.startswith(_MANIFEST_V_PREFIX) and nm.endswith(".json"):
            try:
                best = max(best, int(nm[len(_MANIFEST_V_PREFIX):-5]))
            except ValueError:
                pass
    return best


# moved to the fs seam in r11 (the shard-manifest reader needs the same
# py4j classification); the alias keeps this module's call sites and the
# pinning tests (test_ann_index.test_is_missing_file_compares_java_class)
# addressing it where the behavior is exercised
_is_missing_file = fscommit.is_missing_file


# index_dir -> marker verdict (True = marker present and '2'; False =
# marker absent, legacy store). Cache limits, by design: a verdict is held
# until something observable contradicts it — False self-corrects on EVERY
# commit (_declare_format's exclusive create collides with any marker a
# concurrent writer has since published, and the collision re-reads it);
# True is dropped when the head version REGRESSES or the manifest's
# store_id CHANGES (the store was rebuilt or replaced at the same path —
# _commit_manifest_merge watches both via _HEAD_SEEN; the id catches
# replacements whose version counter already overtook the old watermark,
# code-review r10) and by ann_index_build on the path it just rebuilt.
# Residual: a LEGACY store (no store_id) replaced by another legacy store
# whose version caught up is indistinguishable — but legacy stores are
# pre-format-2 by definition, so the marker fence isn't load-bearing there.
_FORMAT_STATE: dict[str, bool] = {}
# index_dir -> (store_id, highest head version seen)
_HEAD_SEEN: dict[str, tuple] = {}
# guards every pop/re-check/update sequence on the two caches: in-process
# concurrent appenders are a supported mode (probed at 24-48 threads), and
# without the lock a thread could re-cache a verdict it read BEFORE another
# thread's store-replacement invalidation popped it (ADVICE r10). One lock
# PER index_dir (ADVICE r11): _check_format holds its lock across a remote
# marker read, and a single global lock would let one slow/hung hdfs://
# store serialize format checks and watermark updates for every OTHER
# store in the process. RLock because the claim loop's regression branch
# re-enters _check_format under the same guard. Residual (unfixable
# in-process): a marker read that races a CROSS-PROCESS store replacement
# can still cache the old store's verdict for one commit — the
# watermark/store_id regression check catches it at that next commit, as
# documented above.
_STORE_LOCKS: dict[str, threading.RLock] = {}
_LOCKS_GUARD = threading.Lock()  # short-lived: dict probe/insert only


def _store_lock(index_dir: str) -> threading.RLock:
    """The cache lock for ONE store path — created on first use, never
    collected (a lock is ~100 bytes and store paths per process are few;
    collecting one while a thread holds it would fork the mutual
    exclusion). Keyed by the exact string: the caches themselves are
    keyed the same way, so alias spellings that would miss the cache also
    take a different lock — consistent, and the caches' own documented
    limitation."""
    lock = _STORE_LOCKS.get(index_dir)
    if lock is None:
        with _LOCKS_GUARD:
            lock = _STORE_LOCKS.setdefault(index_dir, threading.RLock())
    return lock


def _check_format(index_dir: str, fs) -> None:
    """Enforce the protocol the manifest.format marker declares BEFORE
    claiming a version — once per store per process (cached; no per-commit
    round trip — see the cache-limits note on _FORMAT_STATE). A marker
    this code doesn't understand means the store is owned by a newer
    layout, and writing format-2 version files into it is exactly the
    mixed-version corruption the marker exists to fence — so refuse,
    pre-claim, when nothing has been committed yet (the refusal caches
    NOTHING, so a fixed marker is honored on the next call). A MISSING
    marker is a legacy or mid-migration store (supported: the first
    versioned commit declares format 2 via _declare_format); an unreadable
    marker refuses too — better to fail a write that hasn't happened than
    to commit into a store whose protocol can't be confirmed."""
    with _store_lock(index_dir):
        if index_dir in _FORMAT_STATE:
            return
        try:
            raw = fs.read_text(join(index_dir, _FORMAT_MARKER)).strip()
        except Exception as e:
            if not _is_missing_file(e):
                raise
            _FORMAT_STATE[index_dir] = False
            return
        if raw != "2":
            raise ValueError(
                f"ANN store {index_dir} declares manifest format {raw!r}; "
                "this code writes format 2 — refusing to commit into a "
                "store owned by a different protocol version. (A marker "
                "torn by a claimant hard-killed mid-declare on a "
                "no-hardlink filesystem reads as gibberish: verify no "
                "newer writer owns the store, then delete manifest.format "
                "to recover — the next commit re-declares it.)"
            )
        _FORMAT_STATE[index_dir] = True


def _declare_format(index_dir: str, fs) -> None:
    """Write the format marker on a legacy store's first versioned commit
    — post-claim, best-effort (a marker-write fault must not fail the
    already-committed write). Published EXCLUSIVELY and atomically via
    tmp + rename_exclusive (the store's own claim primitive; VERDICT r9):
    a crash mid-declare leaves tmp debris for GC, never a torn marker
    that would brick every later commit, and a marker some other writer
    published meanwhile is never clobbered — on FileExistsError the
    existing marker is read and HONORED: '2' just refreshes the cache;
    anything else drops this process's cached verdict and WARNS, so the
    NEXT commit's pre-claim _check_format refuses loudly. (It must not
    raise here: the claim this call trails already committed, and raising
    past a commit makes an untokened caller's retry double-commit — the
    standing post-claim invariant. One commit already raced the foreign
    writer either way; the refusal lands at the first boundary where
    nothing is half-done.)"""
    if _FORMAT_STATE.get(index_dir):
        return
    tmp = _manifest_tmp(index_dir)
    try:
        fs.write_text(tmp, "2\n")
        fs.rename_exclusive(tmp, join(index_dir, _FORMAT_MARKER))
        with _store_lock(index_dir):
            _FORMAT_STATE[index_dir] = True
    except FileExistsError:
        try:
            fs.delete(tmp)
        except Exception:
            pass
        try:
            raw = fs.read_text(join(index_dir, _FORMAT_MARKER)).strip()
        except Exception:
            return  # unreadable right now; the next _check_format decides
        if raw == "2":
            with _store_lock(index_dir):
                _FORMAT_STATE[index_dir] = True
        else:
            with _store_lock(index_dir):
                _FORMAT_STATE.pop(index_dir, None)
            warnings.warn(
                f"ANN store {index_dir}: a concurrent writer declared "
                f"manifest format {raw!r} while this process held a "
                "format-2 verdict; this commit predates the marker and "
                "stands, but further format-2 commits here will refuse — "
                "drain one side (see the manifest.format note).",
                stacklevel=2,
            )
    except Exception:
        try:  # marker write is best-effort; the commit already happened
            fs.delete(tmp)
        except Exception:
            pass


def _load_manifest(index_dir: str, fs=None) -> dict:
    """The committed manifest = the HEAD of the version log
    (`manifest.v{n}.json`, immutable once claimed). On hardlink-capable
    filesystems version files are published atomically complete
    (rename_exclusive), so any readable head is internally consistent;
    the retry covers two in-flight races — the picked head getting
    pruned between listdir and read (needs more than _MANIFEST_V_KEEP
    commits inside that window), and, on link-incapable filesystems
    where rename_exclusive drops to its O_EXCL fallback, a head file
    observed in the microseconds between its create and its content
    write (torn JSON resolves on retry once the writer finishes; a
    claimant HARD-KILLED in that window leaves the torn head
    permanently, and after 10 attempts this raises loudly — delete the
    torn manifest.v{n} file to recover, the claim was never committed).

    The `manifest.json` snapshot and the implicit build-only manifest
    are fallbacks for PRE-VERSIONED stores ONLY (no version files at
    all). When version files exist they are never consulted: falling
    back to the stale snapshot under contention is how a writer would
    derive from old state and claim an already-pruned version slot —
    a forked history whose entries silently vanish from the head (the
    16-thread probe caught exactly that; this raises instead)."""
    fs = fs or _fs_for(index_dir)
    last_err = None
    for attempt in range(10):
        v = _head_version(index_dir, fs)
        if not v:
            last_err = None
            break
        try:
            return json.loads(fs.read_text(join(index_dir, _version_name(v))))
        except Exception as e:
            # ONLY the two in-flight races are worth retrying: a pruned
            # head (file-not-found) and a torn head mid-publish on the
            # O_EXCL fallback path (ValueError from json.loads). A
            # permission error or IO fault is a real failure that must
            # propagate as itself, not be retried ten times and then
            # misreported as commit contention
            if not (_is_missing_file(e) or isinstance(e, ValueError)):
                raise
            last_err = e  # in-flight write — re-resolve and re-read
            time.sleep(0.005 * attempt)  # yield to the in-flight committer
    if last_err is not None:
        raise ConcurrentWriteError(
            f"ANN store {index_dir}: the manifest head stayed unreadable "
            f"across 10 list/read attempts ({type(last_err).__name__}) — "
            "either commits are outrunning this reader by more than the "
            "version-retention window, or a claimant was killed mid-publish "
            "on a no-hardlink filesystem and left a torn manifest.v{n} "
            "file (delete it to recover; the claim never committed)."
        ) from last_err
    path = join(index_dir, _MANIFEST)
    if not fs.exists(path):
        # pre-manifest store (or hand-built): the build dir is the store
        return {"dirs": [{"name": _CODES}]}
    return json.loads(fs.read_text(path))


def _manifest_tmp(index_dir: str) -> str:
    """A fresh `.manifest_*` scratch name inside the store — the prefix
    GC recognizes as debris, shared by every manifest-adjacent write
    (version-claim buffer, pointer refresh, marker declare)."""
    import uuid

    return join(index_dir, ".manifest_" + uuid.uuid4().hex[:12])


def _refresh_pointer(index_dir: str, manifest: dict, fs) -> None:
    """`manifest.json` is a convenience SNAPSHOT of the newest committed
    version — for humans, tests, and pre-versioned tooling. Writers and
    readers resolve the true head from the version files, so the
    pointer's last-writer-wins refresh is harmless: any committed version
    it shows is internally consistent, at worst a commit or two stale."""
    tmp = _manifest_tmp(index_dir)
    try:
        fs.write_text(tmp, json.dumps(manifest))
        fs.replace_file(tmp, join(index_dir, _MANIFEST))
    except BaseException:
        fs.delete(tmp)
        raise


def _prune_versions(
    index_dir: str, head_version: int, fs, keep: int = _MANIFEST_V_KEEP
) -> None:
    """Drop version files more than `keep` commits behind the head. Safe
    against concurrent readers: they resolve the CURRENT head (never a
    deep-history version), and the retry in _load_manifest covers the
    one-in-`keep`-commits list/read race. Best-effort housekeeping: a
    concurrent committer prunes the same range, so per-file races
    (already gone) are expected, and no pruning failure may fail the
    COMMIT that triggered it — the claim already succeeded."""
    if head_version <= keep:
        return
    for nm in fs.listdir(index_dir):
        if nm.startswith(_MANIFEST_V_PREFIX) and nm.endswith(".json"):
            try:
                v = int(nm[len(_MANIFEST_V_PREFIX):-5])
            except ValueError:
                continue
            if v <= head_version - keep:
                try:
                    fs.delete(join(index_dir, nm))
                except Exception:
                    pass


def _commit_manifest_merge(
    index_dir: str, merge_fn, fs, retries: int = 64
) -> dict | None:
    """SERIALIZED manifest commit — the version-claim CAS loop that makes
    concurrent committers safe (VERDICT r7's 'real fix': version counter
    + retry; the r8 tripwire variant measurably leaked under real
    contention — tools/ann_race_probe.py found silent losses at 8
    threads, so detection was upgraded to prevention).

    `merge_fn(head_manifest) -> new manifest | None` (None aborts — the
    caller decides what an abort means). The new manifest claims version
    head+1 by publishing `manifest.v{head+1}.json` via rename_exclusive:
    atomic, complete-content, exactly-one-winner. A loser re-reads the
    NEW head and re-applies its merge, so no committed entry is ever
    silently dropped — every version derives from the version it
    replaces. The winner refreshes the manifest.json snapshot and prunes
    deep history. Raises ConcurrentWriteError only when the claim is
    lost `retries` times running (pathological contention).

    merge_fns must be IDEMPOTENT against a head that already reflects
    their work (return None or identical content): the stall guard below
    withdraws an ambiguous claim and re-merges, so a merge that is not
    idempotent would double-apply. "Already reflects" must be judged
    through COMPACTION (ADVICE r9): a compact running concurrently with
    the stall can FOLD a committed entry out of `dirs` (its name moves to
    the `superseded` ledger, its dir is later collected), so a merge_fn
    keyed on dir names alone would re-apply folded work —
    _commit_manifest_entry checks name-in-dirs, name-in-superseded, and
    dir-exists-on-disk; compact's folded output is keyed by its own
    unique dir name, which nothing folds away before it commits.

    Lost claims back off briefly (bounded, jittered) before re-reading:
    under a writer storm every loser otherwise re-reads and re-claims in
    lockstep, and one committer can starve through all `retries` rounds
    (seen once at 24 uncoordinated threads — ann_race_probe)."""
    import random

    _check_format(index_dir, fs)
    for attempt in range(retries):
        head = _load_manifest(index_dir, fs)
        # a head version LOWER than one this process already saw — or a
        # CHANGED store_id — means the store was rebuilt/replaced at this
        # path: the cached format verdict describes the OLD store, so drop
        # it and re-check the marker pre-claim (the _FORMAT_STATE
        # cache-limits note; the id check covers replacements whose
        # version counter already overtook the watermark)
        head_v = int(head.get("version", 0))
        sid = head.get("store_id")
        # the pop / re-check / watermark-update must be ONE atomic
        # sequence: without the lock a concurrent thread could re-cache a
        # verdict it read before the pop, deferring the foreign-format
        # refusal by one commit (ADVICE r10; RLock — _check_format
        # re-enters the same guard)
        with _store_lock(index_dir):
            seen = _HEAD_SEEN.get(index_dir)
            if seen is not None and (sid != seen[0] or head_v < seen[1]):
                _FORMAT_STATE.pop(index_dir, None)
                _check_format(index_dir, fs)
            _HEAD_SEEN[index_dir] = (sid, head_v)
        new = merge_fn(head)
        if new is None:
            return None
        version = int(head.get("version", 0)) + 1
        new = {**new, "version": version}
        tmp = _manifest_tmp(index_dir)
        try:
            fs.write_text(tmp, json.dumps(new))
            fs.rename_exclusive(tmp, join(index_dir, _version_name(version)))
        except FileExistsError:
            fs.delete(tmp)
            # lost the claim — back off (jittered, capped at 20ms) so the
            # loser pack spreads out, then re-read the new head and re-merge
            # (without this, lockstep re-claims can starve one committer
            # through all retries: ann_race_probe r8 saw it at 24 threads;
            # with backoff 24x8 commits 192/192 with zero loud failures)
            time.sleep(min(0.02, 0.001 * (1 << min(attempt, 5))) * random.random())
            continue
        except BaseException:
            fs.delete(tmp)
            raise
        # STALL GUARD (ADVICE r8 medium): pruning frees slots more than
        # _MANIFEST_V_KEEP behind the head, so a committer that stalled
        # between its head read and its claim (driver GC pause, swapped-out
        # thread) can exclusively create a version file on a slot that was
        # already pruned — a fork off stale state that never becomes the
        # head, i.e. a silent loss. A claim is provably genuine only while
        # it is still inside the live retention window NOW: the head only
        # grows, so `version > head_now - keep` means the slot was never
        # prunable at any earlier time and the exclusive create really was
        # the next version. Outside the window is ambiguous (a genuine
        # claim that >keep commits have since derived from also lands
        # there), and in BOTH cases the same move is correct: withdraw the
        # file (it is deep history or a fork — no reader resolves it as
        # head either way) and re-merge against the fresh head. A genuine
        # claim's entries propagated through every later version — possibly
        # FOLDED by a concurrent compact, which is why merge_fns recognize
        # already-applied work through the superseded ledger and disk
        # presence, not dir names alone (the idempotency note above) — so
        # its re-merge aborts as already-applied; a forked claim's entries
        # did NOT propagate, and the re-merge commits them for real.
        # The guard itself must not FAIL an already-committed write: the
        # claim above IS the commit, so raising past it would make an
        # untokened caller's retry commit the same rows twice. A transient
        # listdir fault here therefore keeps the claim unverified (the
        # exposure of the pre-guard code — never worse), and a failed
        # withdraw leaves a below-head file that _prune_versions collects.
        try:
            head_now = _head_version(index_dir, fs)
        except Exception:
            head_now = None
        if head_now is not None and head_now - _MANIFEST_V_KEEP >= version:
            try:
                fs.delete(join(index_dir, _version_name(version)))
            except Exception:
                pass
            continue
        # the commit IS the claim above; snapshot refresh + history prune
        # are housekeeping and must not fail an already-committed write
        # (a transient listdir failure inside pruning would otherwise make
        # a SUCCESSFUL append raise — and an untokened caller's retry
        # would then commit the same rows twice)
        _declare_format(index_dir, fs)
        try:
            _refresh_pointer(index_dir, new, fs)
        except Exception:
            pass  # next committer refreshes; readers resolve the head anyway
        try:
            _prune_versions(index_dir, version, fs)
        except Exception:
            pass  # next committer prunes; history depth is still bounded
        return new
    raise ConcurrentWriteError(
        f"ANN store {index_dir}: lost the manifest version claim "
        f"{retries} times in a row — pathological commit contention. "
        "The work is on disk but uncommitted; retry the operation."
    )


def _commit_manifest_entry(index_dir: str, entry: dict, fs) -> bool:
    """Append ONE dir entry through the version-claim loop. Returns True
    when the entry is committed; False when a racing replay of the same
    batch (same batch_token, different dir) committed first — then this
    entry is the duplicate, its dir is deleted, and exactly-once store
    contents hold across the race.

    The already-applied check must recognize a committed entry through
    COMPACTION, not just by name-in-dirs (ADVICE r9 medium): the stall
    guard can re-merge an entry that committed long ago, and a compact —
    documented safe concurrent with appends — FOLDS committed entries
    away, moving the dir name from `dirs` to the `superseded` grace
    ledger (and deleting the dir one cycle later). A name-only check
    would re-add that entry: duplicate rows now (the folded dir already
    carries them), and a dangling manifest reference once the superseded
    dir is collected. So an entry is already-applied when its name is in
    `dirs` OR in `superseded` (folded, dir still on disk for grace
    readers) OR its dir is GONE from disk (folded and collected — a
    grace=False compact or a later cycle; a dir that was never committed
    cannot be gone, because GC is writer-exclusive by contract and
    nothing else deletes unreferenced dirs)."""
    tok = entry.get("batch_token")
    entry_path = join(index_dir, entry["name"])
    attempts = [0]

    def merge(head: dict):
        attempts[0] += 1
        if tok is not None and any(
            d["name"] != entry["name"] and tok in _entry_tokens(d)
            for d in head["dirs"]
        ):
            return None  # a same-token twin is already committed
        if any(d["name"] == entry["name"] for d in head["dirs"]):
            return None  # already committed (idempotent re-drive)
        if entry["name"] in head.get("superseded", []):
            return None  # committed, then folded away by a compact
        # one exists() per merge attempt, deliberately not cached across
        # attempts: a compact can fold-and-collect this very entry BETWEEN
        # attempts of the same claim loop (that is the stall-guard
        # scenario), so a stale "was on disk" answer would re-add deleted
        # work — and the stat is noise next to the claim's write+rename
        if not fs.exists(entry_path):
            if attempts[0] == 1:
                # absence on the FIRST attempt is suspicious: a freshly
                # renamed dir cannot have been committed, folded by a
                # compact, AND grace-collected before this writer's very
                # first claim try. Under the writer-exclusive GC contract
                # the conclusion (already applied) still holds — but an
                # external deletion (manual cleanup, a GC run violating
                # the contract) produces the same observation, so say so
                # instead of silently reporting success (ADVICE r10).
                # Deliberately warnings.warn, not a logger (ADVICE r11
                # weighed both): under -W error / simplefilter('error')
                # this benign-by-contract path becomes a raise — which is
                # the DESIRED strictness there, because the observation is
                # also the signature of a lost batch; error-filtered
                # environments opt into loud over silent. Escapes
                # _commit_manifest_entry pre-claim (no commit happened on
                # this path), so the post-claim no-raise invariant holds.
                warnings.warn(
                    f"ann_index: append dir {entry['name']!r} was already "
                    "absent on the first commit attempt — treated as "
                    "committed-and-folded per the writer-exclusive GC "
                    "contract, but a contract-violating external deletion "
                    "would look identical (and would have lost this batch)",
                    stacklevel=2,
                )
            return None  # committed, folded, and grace-collected
        return {**head, "dirs": head["dirs"] + [entry]}

    if _commit_manifest_merge(index_dir, merge, fs) is not None:
        return True
    # merge aborted: committed-already vs lost-to-twin — distinguish.
    # Mirror the merge's folded-identity checks: a folded entry's dir must
    # NOT be deleted here (it is the superseded ledger's grace copy that
    # old-manifest readers may still be scanning; compact/GC collect it)
    head = _load_manifest(index_dir, fs)
    if any(d["name"] == entry["name"] for d in head["dirs"]):
        return True
    if entry["name"] in head.get("superseded", []):
        return True
    if not fs.exists(entry_path):
        return True
    fs.delete(entry_path)
    return False


def ann_index_append(
    emb: DataFrame, index_dir: str, batch_token: str | None = None
) -> bool:
    """Encode a NEW batch with the index's existing models and append its
    codes — the daily-ingest path: one narrow encode pass over the batch,
    no retraining, no touch of existing codes. Crash/reader-safe: the
    batch writes to a hidden temp dir, renames to its final name, and only
    then joins the manifest in one atomic rewrite — a crash at any earlier
    point leaves an orphan `.batch_*`/uncommitted dir that no reader ever
    consults (ann_index_gc collects it). Each committed batch records its
    per-cell occupancy so drift from the trained distribution is
    measurable (ann_index_drift).

    `batch_token` makes the append IDEMPOTENT: if any committed manifest
    entry already carries the token, the call is a no-op returning False.
    Because the token commits atomically WITH the batch (one manifest
    rewrite), an at-least-once driver — Structured Streaming foreachBatch
    replaying after a crash, a retried orchestrator task — composes into
    exactly-once store contents (ann_ingest_stream is the streaming
    face). Returns True when the batch was appended. The no-op holds even
    when the replay RACES this call (its commit lands between this call's
    up-front token check and its own manifest rewrite): the commit loop
    sees the committed twin under the same token, deletes this call's dir
    and returns False — exactly-once contents survive that interleaving
    too.
    (Re-appending the same ids WITHOUT a token is the caller's dedup
    problem — run the batch through incremental_exact_dedup first, the
    stores compose.)

    CONCURRENT APPENDS ARE SAFE: the manifest commit rides the
    version-claim loop (_commit_manifest_merge) — each committed version
    derives from the one it replaces, a lost claim re-merges against the
    fresh head, so a batch backfill racing ann_ingest_stream (or N
    ingest workers) cannot drop each other's entries
    (tools/ann_race_probe.py: 8 threads × 6 appends, zero losses).
    Compact and GC remain ONE-AT-A-TIME operations: they delete dirs,
    which no merge rule can make safe against a concurrent deleter.
    MIXED-VERSION writers are NOT safe: a pre-format-2 deployment that
    commits by replacing manifest.json must be drained before this code
    writes to the same store (see the manifest.format marker note in the
    module docstring) — migration itself is lossless, concurrent
    old-protocol writes are not."""
    spark = emb.sparkSession
    fs = _fs_for(index_dir, spark)
    meta = _load_meta(index_dir, fs)
    if batch_token is not None:
        committed: set = set()
        for d in _load_manifest(index_dir, fs)["dirs"]:
            committed.update(_entry_tokens(d))  # incl. compacted entries
        if batch_token in committed:
            return False  # replay of an already-committed batch
    encoded = ivf_pq_encode(
        emb, meta["codebooks"], meta["centroids"], meta["id_col"], meta["vec_col"]
    )
    tmp_dir = fs.mktempdir(index_dir, ".batch_")
    encoded.write.mode("overwrite").parquet(tmp_dir)
    occupancy = _cell_occupancy(spark, tmp_dir)
    final_name = "batch_" + basename(tmp_dir)[len(".batch_"):]
    fs.rename(tmp_dir, join(index_dir, final_name))
    entry = {"name": final_name, "occupancy": occupancy}
    if batch_token is not None:
        entry["batch_token"] = batch_token
    return _commit_manifest_entry(index_dir, entry, fs)


def ann_index_drift(index_dir: str) -> float:
    """Total-variation distance between the TRAINED cell distribution (the
    build's occupancy, meta.json) and the cell distribution of everything
    APPENDED since — 0.0 when appends mirror the build (or nothing was
    appended), 1.0 when all appended mass lands in cells the build never
    saw. Pure manifest/meta arithmetic: no Spark, no scan. Past ~0.25 the
    coarse router is quantizing a distribution it wasn't trained on and a
    re-build (one encode pass) is warranted."""
    meta = _load_meta(index_dir)
    build_occ = meta.get("cell_occupancy")
    if not build_occ:
        return 0.0  # pre-drift-tracking store: nothing to compare
    appended: dict[str, int] = {}
    for entry in _load_manifest(index_dir)["dirs"]:
        if entry["name"] == _CODES:
            continue
        for cell, n in entry.get("occupancy", {}).items():
            appended[cell] = appended.get(cell, 0) + n
    total_a = sum(appended.values())
    if total_a == 0:
        return 0.0
    total_b = sum(build_occ.values()) or 1
    cells = set(build_occ) | set(appended)
    return 0.5 * sum(
        abs(build_occ.get(c, 0) / total_b - appended.get(c, 0) / total_a)
        for c in cells
    )


def ann_index_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 0,
    vectors: DataFrame | None = None,
    drift_warn: float = 0.25,
) -> DataFrame:
    """Top-k over the persisted store. rerank=R re-scores the top R·k with
    exact cosine and needs the raw `vectors` frame (the embedding source
    the index was built from). Reads ONLY manifest-committed code dirs —
    a concurrently-running or crashed append is invisible. Warns (does not
    fail) when the appended cell occupancy has drifted more than
    `drift_warn` TV-distance from the trained distribution; None disables
    the check."""
    meta = _load_meta(index_dir)
    if drift_warn is not None:
        drift = ann_index_drift(index_dir)
        if drift > drift_warn:
            warnings.warn(
                f"ANN index at {index_dir}: appended vectors' cell occupancy "
                f"has drifted {drift:.2f} TV-distance from the trained "
                f"distribution (threshold {drift_warn}) — recall degrades on "
                "out-of-distribution cells; re-run ann_index_build.",
                stacklevel=2,
            )
    paths = [
        join(index_dir, d["name"]) for d in _load_manifest(index_dir)["dirs"]
    ]
    codes = spark.read.parquet(*paths)
    return ivf_pq_search_encoded(
        codes, queries, meta["codebooks"], meta["centroids"],
        k, nprobe, rerank, vectors,
        id_col=meta["id_col"], vec_col=meta["vec_col"],
    )


def _clear_superseded(index_dir: str, names, fs) -> None:
    """Drop `names` from the manifest's superseded ledger through the
    version-claim merge loop (a racing COMMIT is preserved, never
    clobbered). The ONE definition behind all three clear sites —
    compact's no-fold sweep, eager compact's post-delete clear, and gc's
    reclaim — so ledger semantics can't silently diverge between them."""
    gone = set(names)
    if not gone:
        return

    def merge(head: dict):
        kept = [n for n in head.get("superseded", []) if n not in gone]
        if len(kept) == len(head.get("superseded", [])):
            # nothing to drop (the names were already cleared by a
            # scheduled compact's own commit, or are stale retry
            # ghosts) — abort instead of burning a version claim on a
            # byte-identical ledger (review r16 pass 8)
            return None
        new = {**head, "superseded": kept}
        ts = head.get("superseded_ts")
        if isinstance(ts, dict):
            # a name's grace stamp leaves with the name; stamps for
            # names a rival keeps ledgered stay untouched
            new["superseded_ts"] = {
                n: t for n, t in ts.items() if n not in gone
            }
        return new

    _commit_manifest_merge(index_dir, merge, fs)


# minimum age (seconds, from the per-entry superseded_ts stamp) before a
# compact's opening sweep may collect a grace dir (ADVICE r16): spaced
# scheduled compacts (minutes+ apart) are unaffected; a DOUBLE-FIRED
# scheduler's second sweep finds only seconds-old entries, skips them
# all, and the reader grace window survives the accident. 30 s bounds
# the manifest-resolve→dir-open gap of any real search plan (the window
# the grace period exists for is milliseconds); age-based reclaim for
# long-running readers is ann_index_gc(grace_max_age=...)'s job.
MIN_SWEEP_AGE_S = 30.0


def _valid_stamp(t) -> bool:
    """One predicate for 'this superseded stamp is a usable epoch
    number' shared by the opening sweep, the merge's legacy-stamp
    promotion, and gc's age reclaim (review r17) — three hand-copied
    variants would have to agree for ledger semantics to agree, and an
    asymmetry slipped in once already (sweep read malformed as ripe,
    gc read it as keep). bool is an int but not a measurement."""
    return isinstance(t, (int, float)) and not isinstance(t, bool)


def ann_index_compact(
    spark: SparkSession, index_dir: str, grace: bool = True,
    min_sweep_age: float = MIN_SWEEP_AGE_S,
) -> int:
    """Fold all committed APPEND batches into one code dir — the store's
    small-file debt collector: after N daily appends every search opens
    N+1 parquet dirs; compaction returns that to 2 (build codes + one
    compacted batch dir) without touching the build codes or the drift
    accounting (the compacted entry carries the SUM of the folded batches'
    occupancies, so ann_index_drift reports exactly what it did before —
    folding appended rows into `codes/` instead would misfile them as
    trained mass). Returns the number of batch dirs folded; 0 normally
    means fewer than 2 batches remained at a fresh manifest read — a
    fold lost to a rival compact retries internally against the fresh
    head rather than returning a false 0 with foldable dirs left, so
    the fixed-point loop `while ann_index_compact(...) > 0` is sound
    against any scheduler accident short of a sustained rival STORM:
    after 8 consecutive losses (each one implying a rival fold
    committed — the debt is being collected by the winners) this
    compactor bows out with 0 even though the rival's last output plus
    newer appends may still be foldable; the next scheduled compact
    collects them (review r16 x2). Retry passes skip the opening grace
    sweep: a loss means a rival JUST superseded dirs that old-manifest
    readers may still be scanning, and sweeping them milliseconds
    later from inside the same ann_index_compact call would collapse
    the reader grace window the first pass honored (review r16 pass 5).

    Crash contract mirrors append: the union writes to a hidden temp dir,
    renames, and publishes via one atomic manifest commit — a crash at
    any point leaves either the old manifest (old dirs intact) or the new
    one. The commit is a MERGE through the version-claim loop: batches
    appended concurrently with the fold (after this compact's read) stay
    committed — only the dirs actually unioned are folded away.

    CONCURRENT COMPACTS serialize safely for the COMMIT LOG (r16;
    previously documented run-one-at-a-time): batch entries leave `dirs`
    only through a compact's fold, so a merge that finds any of its
    input names already gone knows a rival compact folded them first —
    it ABORTS instead of committing a second copy of the same rows (the
    duplicate-fold hazard the old contract warned about), deletes its
    own unreferenced output dir, and retries against the fresh head
    (bounded; a pathological rival storm bows out as a 0 no-op while
    the winners make the progress). Still schedule ONE compactor: two
    do redundant union work, and a rival's grace sweep of RIPE dirs can
    delete inputs out from under the loser's in-flight union (crashing
    it loudly — safe, nothing committed). The double-fire reader hazard
    the r16 contract documented as an operator-spacing assumption is
    now enforced IN CODE (ADVICE r16): the opening sweep is AGE-GATED
    by `min_sweep_age` (default MIN_SWEEP_AGE_S) over per-entry
    `superseded_ts` stamps, so a second compactor fired milliseconds
    after its rival's commit finds only seconds-old ledger entries,
    sweeps nothing, and the reader grace window survives. The r16 guard
    already made a double-fire unable to CORRUPT the store (exactly-once
    contents, no duplicate folds); the age gate extends that to the
    reader window. `min_sweep_age=0` restores the unconditional sweep
    for stores where the caller IS the spacing (tests, single-process
    maintenance loops that sleep between compacts).

    Reader race, closed by the GRACE PERIOD (default): superseded batch
    dirs are NOT deleted at commit — they're recorded in the manifest's
    `superseded` list and survive until the next compact whose opening
    sweep finds them older than min_sweep_age (or an explicit
    ann_index_gc(delete_superseded=True) / per-entry-aged
    ann_index_gc(grace_max_age=...)), so a search that resolved the
    OLD manifest just before the commit still finds every dir it plans to
    read. No reader ever consults `superseded` for routing; it is purely
    the deferred-delete ledger. `grace=False` restores eager deletion for
    single-process stores that never search concurrently."""

    def fold(paths: list, tmp_dir: str) -> None:
        spark.read.parquet(*paths).write.mode("overwrite").parquet(tmp_dir)

    return _compact_dirs(
        index_dir, _fs_for(index_dir, spark), fold, grace, min_sweep_age
    )


def _compact_dirs(
    index_dir: str, fs, fold_fn, grace: bool = True,
    min_sweep_age: float = MIN_SWEEP_AGE_S,
) -> int:
    """_compact_dirs_once with a bounded RETRY on rival loss (review
    r16): a lost fold means a rival folded our inputs first, but the
    fresh head can still hold >= 2 foldable dirs (the rival's output
    plus concurrent appends) — returning 0 there would break the
    fixed-point reading `while compact(...) > 0` that a maintenance
    loop relies on (small-file debt would silently persist). Each loss
    implies a rival COMMIT, so a retry always faces a store that made
    progress; eight consecutive losses is a pathological rival storm —
    bow out as a no-op, the winners are compacting. Only the FIRST pass
    runs the opening grace sweep: a retry follows a rival's commit by
    milliseconds, and sweeping the dirs that commit just superseded
    would collapse the reader grace window ("survive until the NEXT
    compact" means the next scheduled one, not a retry inside this
    call; review r16 pass 5)."""
    # the ghost accumulator rides across retries (review r16 pass 7): if
    # attempt 0 sweeps the ledger's dirs and then LOSES its fold to a
    # rival, the subtraction it would have committed never lands — the
    # names are ghosts (dir deleted, name ledgered) that a later pass of
    # THIS call must still drop, or they accumulate until some future
    # completed sweep-pass compact
    ghosts: set = set()
    for attempt in range(8):
        n = _compact_dirs_once(
            index_dir, fs, fold_fn, grace,
            sweep_grace=(attempt == 0), swept_ghosts=ghosts,
            min_sweep_age=min_sweep_age,
        )
        if n is not None:
            return n
    return 0


def _compact_dirs_once(
    index_dir: str, fs, fold_fn, grace: bool = True,
    sweep_grace: bool = True, swept_ghosts: set | None = None,
    min_sweep_age: float = MIN_SWEEP_AGE_S,
) -> int | None:
    """ONE pass of the compaction manifest dance with the data fold
    INJECTED — `fold_fn(paths, tmp_dir)` writes the union of the batch
    dirs at `paths` into `tmp_dir`. ann_index_compact passes the Spark
    parquet union; tools/ann_mp_probe.py passes a plain-text
    concatenation so the REAL dance (grace sweep, fold, rename, merge,
    rival-loss resolution) can be raced across spawn processes without
    a JVM — the probe exercises this very code, not a replay that could
    drift (VERDICT r15 #1). Returns the folded count, 0 for the
    <2-batches no-op, or None when the fold LOST to a rival compact
    (inputs folded away mid-dance; own output dir deleted) — the retry
    wrapper above turns None into another pass. `sweep_grace=False`
    (retry passes) skips the opening grace sweep: the head ledger's
    dirs were superseded by the rival's commit moments ago — grace
    readers own them until the NEXT scheduled compact (review r16
    pass 5). The <2-batches ledger clear is keyed on `swept_ghosts`,
    NOT on sweep_grace: a retry pass still clears names an EARLIER
    pass of the same call swept and then failed to commit (review r16
    passes 7-8). Semantics documented on ann_index_compact."""
    manifest = _load_manifest(index_dir, fs)
    # swept_ghosts = every ledger name whose dir THIS CALL deleted (the
    # caller's accumulator carries it across retry passes): they leave
    # the ledger in whichever pass commits; names a RIVAL adds to the
    # ledger after our read are its live grace dirs and stay (review
    # r16 passes 6+7)
    if swept_ghosts is None:
        swept_ghosts = set()
    if sweep_grace:
        # dirs superseded by the PREVIOUS compact have had a full cycle
        # of grace — collect them now, before this round's fold. AGE
        # GATE (ADVICE r16): "the previous compact" assumes scheduler
        # spacing; a DOUBLE-FIRED compactor arrives milliseconds after
        # its rival's commit and an unconditional sweep here would
        # delete dirs that old-manifest readers are still scanning.
        # Entries younger than min_sweep_age (per-entry superseded_ts
        # stamp, falling back to the manifest-level superseded_at, and
        # treating UNSTAMPED entries as ripe — they are eager-mode
        # ghosts or pre-stamp legacy, both already past their window)
        # stay ledgered for a later, properly-spaced sweep: the double
        # fire degrades to a no-op sweep instead of a reader-visible
        # deletion.
        stamps = manifest.get("superseded_ts")
        stamps = stamps if isinstance(stamps, dict) else {}
        fallback = manifest.get("superseded_at")
        now = time.time()
        ripe = set()
        for name in manifest.get("superseded", ()):
            t = stamps[name] if name in stamps else fallback
            if _valid_stamp(t):
                if (now - t) >= min_sweep_age:
                    ripe.add(name)
            elif name not in stamps and fallback is None:
                # stamped NOWHERE: an eager-mode ghost or a pre-stamp
                # legacy entry — both already past their grace window,
                # ripe by construction (the pre-r17 behavior)
                ripe.add(name)
            # else: a PRESENT-but-malformed stamp (hand edit, external
            # tool) — age unprovable, KEEP, matching gc's fail-safe
            # direction (review r17: ripe-on-malformed would collapse
            # the very reader window the gate protects)
        swept_ghosts.update(ripe)
        for name in ripe:
            fs.delete(join(index_dir, name))
    batches = [d for d in manifest["dirs"] if d["name"] != _CODES]
    if len(batches) < 2:
        # housekeeping, same invariant as the eager-path clear below: a
        # clear that loses its claim under an append storm must not fail
        # a compact whose deletions succeeded — ghost names are harmless
        # and the next compact sweeps them (code-review r10 pass 3).
        # Cleared: exactly the names THIS CALL deleted (swept_ghosts —
        # possibly by an earlier pass that then lost its fold to a
        # rival; review r16 pass 7). A no-sweep retry with no
        # accumulated ghosts clears nothing: the head ledger's dirs are
        # a rival's live grace copies
        if swept_ghosts:
            try:
                _clear_superseded(index_dir, swept_ghosts, fs)
            except Exception:
                pass
        return 0
    paths = [join(index_dir, d["name"]) for d in batches]
    tmp_dir = fs.mktempdir(index_dir, ".batch_")
    try:
        fold_fn(paths, tmp_dir)
    except BaseException:
        # a crashed union (including a rival compact's grace sweep
        # deleting an input dir mid-read) must not strand .batch_ tmp
        # debris for gc to puzzle over — nothing was committed, so the
        # tmp dir is provably ours to remove (same hygiene as the claim
        # loop's tmp handling in _commit_manifest_merge)
        fs.delete(tmp_dir)
        raise
    occupancy: dict[str, int] = {}
    tokens: list[str] = []
    for d in batches:
        for cell, n in d.get("occupancy", {}).items():
            occupancy[cell] = occupancy.get(cell, 0) + n
        tokens.extend(_entry_tokens(d))
    final_name = "batch_" + basename(tmp_dir)[len(".batch_"):]
    fs.rename(tmp_dir, join(index_dir, final_name))
    folded = {"name": final_name, "occupancy": occupancy}
    if tokens:
        # idempotency tokens survive compaction — a late replay of a batch
        # whose dir was folded away must still be recognized as committed
        folded["batch_tokens"] = sorted(tokens)
    folded_names = {d["name"] for d in batches}
    lost_to_rival = [False]

    def merge(head: dict):
        if any(d["name"] == folded["name"] for d in head["dirs"]):
            return None  # already committed (stall-guard re-merge)
        if folded_names - {d["name"] for d in head["dirs"]}:
            # RIVAL-COMPACT GUARD (r16): batch entries leave `dirs` only
            # through a compact's fold, so an input of ours that is no
            # longer in the head was folded by a rival between our
            # manifest read and this claim. Committing anyway would add
            # a second entry carrying the same rows AND the same
            # idempotency tokens as the rival's fold — the exact
            # duplicate the exactly-once contract forbids. Abort; the
            # resolution below distinguishes genuinely-lost from
            # committed-then-refolded (the stall-guard re-merge can land
            # here after a rival folds OUR committed output away).
            lost_to_rival[0] = True
            return None
        # fold away exactly the dirs this compact UNIONED; anything that
        # joined the manifest after our read (a concurrent append) stays
        kept = [
            d
            for d in head["dirs"]
            if d["name"] != _CODES and d["name"] not in folded_names
        ]
        codes_entries = [d for d in head["dirs"] if d["name"] == _CODES]
        # the new grace ledger and its per-entry stamps (see the return
        # dict's comments): names THIS CALL swept leave, this fold's
        # inputs enter, a rival's live entries stay WITH their stamps
        ledger_names = (
            set(head.get("superseded", ())) - swept_ghosts
        ) | folded_names
        head_ts = head.get("superseded_ts")
        head_ts = head_ts if isinstance(head_ts, dict) else {}
        legacy_stamp = head.get("superseded_at")
        now_s = int(time.time())
        ledger_ts = {}
        for n in sorted(ledger_names):
            if n in head_ts:
                ledger_ts[n] = head_ts[n]
            elif n in folded_names:
                if grace:
                    ledger_ts[n] = now_s
            elif _valid_stamp(legacy_stamp):
                ledger_ts[n] = legacy_stamp
        return {
            **head,
            # the folded names enter the superseded ledger in BOTH modes:
            # grace=False still needs them there for the eager-delete
            # window below — a stalled writer's re-merge between this
            # commit and the deletes finds its dir still on disk and, with
            # an empty ledger, would re-add the folded entry right before
            # its dir vanishes (committed manifest entry, no dir — every
            # later search crashes; code-review r10). Eager mode deletes
            # and then CLEARS the ledger in a second merge.
            # MERGE with the head's ledger, never replace (review r16
            # pass 6): on a sweep-skipping retry pass the head's ledger
            # names are a rival's LIVE grace dirs — replacement would
            # orphan them in neither `dirs` nor the ledger, leaking them
            # past every future sweep while default gc misreads them as
            # crash debris and deletes them mid-grace. Names THIS CALL
            # swept (any pass — the accumulator carries a lost pass's
            # sweep into the committing one) are ghosts and leave;
            # anything a rival ledgered after our read stays.
            "dirs": codes_entries + [folded] + kept,
            "superseded": sorted(ledger_names),
            # PER-ENTRY grace stamps (ADVICE r16): the manifest-level
            # superseded_at is rewritten to NOW on every grace commit,
            # so on a frequently-compacting store age-based reclaim
            # (gc grace_max_age, the opening-sweep age gate) would never
            # see an entry age out through the single stamp alone. Each
            # ledger name keeps ITS OWN stamp across merges; kept names
            # that predate per-entry tracking inherit the head's old
            # manifest-level stamp BEFORE this commit bumps it; this
            # fold's names are stamped now in grace mode and left
            # UNSTAMPED in eager mode (unstamped = no grace claim = ripe
            # for the next sweep — exactly how eager ghosts behaved).
            "superseded_ts": ledger_ts,
            # manifest-level stamp kept as the legacy fallback for
            # ledgers written before per-entry tracking
            **({"superseded_at": now_s} if grace else {}),
        }

    _commit_manifest_merge(index_dir, merge, fs)
    if lost_to_rival[0]:
        # committed-vs-lost resolution, mirroring _commit_manifest_entry:
        # our fold is already applied when its name is in `dirs`, in the
        # `superseded` grace ledger (committed, then refolded by a later
        # compact), or its dir is GONE from disk (refolded and collected
        # — under the writer-exclusive GC contract nothing else deletes
        # it). Only a fold that is provably in NONE of those states lost
        # to the rival: its output dir is unreferenced work, delete it
        # and report 0 folded. In the applied case the rival also owns
        # the superseded ledger for our inputs, so the eager-delete path
        # below is skipped either way — the ledger/next compact collects.
        head = _load_manifest(index_dir, fs)
        folded_path = join(index_dir, folded["name"])
        applied = (
            any(d["name"] == folded["name"] for d in head["dirs"])
            or folded["name"] in head.get("superseded", [])
            or not fs.exists(folded_path)
        )
        if not applied:
            fs.delete(folded_path)
            return None  # genuinely lost — the wrapper retries
        return len(batches)
    if not grace:
        for p in paths:
            fs.delete(p)
        # dirs gone: folded identity is now provable by absence, so the
        # ledger entries can leave. HOUSEKEEPING — the fold is already
        # committed and the dirs already deleted, so a fault here (or the
        # clear losing its claim under an append storm) must not fail the
        # succeeded compact (code-review r10): the ghost names are
        # harmless (re-drives abort on them) and the next compact's
        # opening sweep clears them
        try:
            _clear_superseded(index_dir, folded_names, fs)
        except Exception:
            pass
    return len(batches)


def ann_index_gc(
    index_dir: str, spark: SparkSession | None = None,
    delete_superseded: bool = False,
    grace_max_age: float | None = None,
) -> list[str]:
    """Garbage-collect store debris the commit protocol can leave behind:
    `.batch_*` / `batch_*` dirs and `.manifest_*` temp files that are in
    neither the committed manifest nor its `superseded` grace list can
    only be crashed appends/compacts (the rename landed but the manifest
    commit didn't) — nothing will ever reference them, and on disk they
    are indistinguishable from committed batches, so without GC they
    accumulate silently. Returns the deleted names.

    `delete_superseded=True` reclaims the grace-period dirs early (safe
    once no reader that started before the last compact is still
    running). `grace_max_age=SECONDS` reclaims PER ENTRY, each once its
    own grace period is at least that old — from the per-name
    `superseded_ts` stamp (ADVICE r16: the manifest-level
    `superseded_at` is bumped on every grace commit, so on a
    frequently-compacting store a whole-ledger age test would never
    fire; per-entry stamps survive merges and age independently).
    Entries without a per-entry stamp fall back to the manifest-level
    stamp; entries with NEITHER are kept — an age that cannot be proven
    is not old enough. The age-based middle ground for stores that
    compact rarely, where "survive one compact cycle" could pin
    superseded dirs for days while any old-manifest reader is long
    gone. Never touches `codes/`, meta, or committed batch dirs.

    EXCLUSIVE operation: GC must not run beside an in-flight append or
    compact — it would delete a renamed-but-not-yet-committed batch dir
    (on disk indistinguishable from crash debris). Its superseded-
    clearing rewrite rides the version-claim merge loop, so a racing
    COMMIT is preserved rather than clobbered, but deletion itself has
    no safe merge — run GC from the maintenance slot (e.g. right after
    compact), never concurrently with writers."""
    fs = _fs_for(index_dir, spark)
    manifest = _load_manifest(index_dir, fs)
    referenced = {d["name"] for d in manifest["dirs"]}
    superseded = set(manifest.get("superseded", []))
    ts_map = manifest.get("superseded_ts")
    ts_map = ts_map if isinstance(ts_map, dict) else {}
    legacy_stamp = manifest.get("superseded_at")
    now = time.time()

    def _grace_reclaimable(name: str) -> bool:
        if delete_superseded:
            return True
        if grace_max_age is None:
            return False
        t = ts_map.get(name, legacy_stamp)
        if not _valid_stamp(t):
            return False  # unprovable age: keep (fail-safe)
        return (now - t) >= grace_max_age

    deleted: list[str] = []
    for name in fs.listdir(index_dir):
        if name in referenced or name in (_META, _MANIFEST) or name == _CODES:
            continue
        is_debris = (
            name.startswith(".batch_")
            or name.startswith(".manifest_")
            # fscommit.replace_file's rename-aside fallback strands a
            # '<dst>.replaced.<hex>' copy only when a crash interrupts
            # the swap (or a rollback itself failed); with GC running in
            # the writer-exclusive maintenance slot, any aside present
            # here is that debris
            or ".replaced." in name
            or (name.startswith("batch_") and name not in superseded)
        )
        if name in superseded:
            if not _grace_reclaimable(name):
                continue
            is_debris = True
        if is_debris:
            fs.delete(join(index_dir, name))
            deleted.append(name)
    if superseded & set(deleted):
        # only the names GC actually deleted leave the ledger (a racing
        # commit is preserved by the merge loop inside _clear_superseded)
        _clear_superseded(index_dir, deleted, fs)
    return sorted(deleted)
