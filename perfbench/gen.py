"""Seeded input generators for the four workloads.

Every generator is a pure function of (output dir, seed, size knobs) that
writes plain files with pyarrow — no Spark — so the same seed gives
byte-identical inputs and the program under test only ever sees the files.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# The committed fixture catalog (175 relations / 1,760 columns) that the
# catalog workload replicates per tenant.
FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)
CATALOG_TABLES = ("cat_rel", "cat_attr", "cat_constr", "cat_idx")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- catalog_dashboard -----------------------------------------------------


def tenant_prefixes(seed: int, replicas: int) -> list[str]:
    rng = random.Random(seed)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < replicas:
        p = f"t{rng.getrandbits(32):08x}"
        if p not in seen:
            seen.add(p)
            out.append(p)
    return out


def catalog(out_dir: str, seed: int, replicas: int = 20) -> str:
    """The fixture catalog replicated `replicas` times, each replica's schema
    names (and FK target schemas) prefixed with a seeded tenant id, so the
    constraint graph stays closed inside each tenant."""
    prefixes = tenant_prefixes(seed, replicas)
    for name in CATALOG_TABLES:
        base = pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
        parts = []
        for p in prefixes:
            t = base
            for col in ("schema_name", "ref_schema"):
                if col in t.column_names:
                    vals = [None if v is None else f"{p}_{v}" for v in t.column(col).to_pylist()]
                    t = t.set_column(t.column_names.index(col), col, pa.array(vals, pa.string()))
            parts.append(t)
        _write(pa.concat_tables(parts), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- batch_import ----------------------------------------------------------

IMPORT_COUNTRIES = ("de", "fr", "us", "br", "jp", "in", "za", "se")
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _str(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _people(rng: np.random.Generator, ids: np.ndarray, bad_frac: float) -> pa.Table:
    """All-string person rows keyed by `ids`; about `bad_frac` of them carry a
    one-character name (name:min_length) or an email without '@'
    (email:like)."""
    n = len(ids)
    sid = _str(ids)
    bad = rng.random(n) < bad_frac
    kind = rng.integers(0, 2, n)
    name = pc.if_else(
        pa.array(bad & (kind == 0)), "x", pc.binary_join_element_wise("Name ", sid, "")
    )
    at = pc.if_else(pa.array(bad & (kind == 1)), ".", "@")
    email = pc.binary_join_element_wise("user", sid, at, "example.com", "")
    cents = rng.integers(0, 10_000_000, n)
    amount = pc.binary_join_element_wise(
        _str(cents // 100), pc.utf8_lpad(_str(cents % 100), 2, "0"), "."
    )
    secs = rng.integers(0, 365 * 86_400, n)
    created = pc.cast(pa.array(_T0_US // 1_000_000 + secs, pa.timestamp("s")), pa.string())
    country = pa.array(np.array(IMPORT_COUNTRIES)[rng.integers(0, len(IMPORT_COUNTRIES), n)])
    return pa.table({
        "id": sid, "name": name, "email": email, "country": country,
        "amount": amount, "created_at": created,
    })


def import_batches(
    out_dir: str, seed: int, target_rows: int, batch_rows: int, batches: int,
    bad_frac: float = 0.05,
) -> tuple[str, list[str]]:
    """One typed initial target (parquet) plus `batches` all-string staging
    CSVs. Each batch updates `batch_rows // 2` existing keys and inserts the
    rest as fresh keys; about `bad_frac` of its rows break a rule."""
    rng = np.random.default_rng(seed)
    base = _people(rng, np.arange(target_rows, dtype=np.int64), 0.0)
    target = pa.table({
        "id": pc.cast(base["id"], pa.int64()),
        "name": base["name"],
        "email": base["email"],
        "country": base["country"],
        "amount": pc.cast(base["amount"], pa.decimal128(12, 2)),
        "created_at": pc.cast(
            pc.strptime(base["created_at"], "%Y-%m-%d %H:%M:%S", "us"),
            pa.timestamp("us", tz="UTC"),
        ),
    })
    target_path = os.path.join(out_dir, "target_v0")
    _write(target, os.path.join(target_path, "part-0.parquet"))

    paths = []
    n_upd = batch_rows // 2
    for b in range(batches):
        upd = rng.choice(target_rows, size=n_upd, replace=False).astype(np.int64)
        ins = np.arange(batch_rows - n_upd, dtype=np.int64) + target_rows + b * batch_rows
        ids = np.concatenate([upd, ins])
        rng.shuffle(ids)
        path = os.path.join(out_dir, f"staging_{b:03d}.csv")
        pacsv.write_csv(_people(rng, ids, bad_frac), path)
        paths.append(path)
    return target_path, paths


# --- corpus_curation -------------------------------------------------------

_VOCAB = (
    "spark table column query scan filter join merge window stream batch value "
    "index vector shard token model data schema import export tenant metric "
    "commit write read cache plan stage task shuffle sort hash group order "
    "row key fast slow big small line part agg"
).split()
_STOP = ("a", "the", "of", "and", "to", "in", "is", "for")
_LANGS = ("en", "de", "fr", "es", "zh")


def corpus(out_dir: str, seed: int, n_docs: int = 5000, n_vecs: int = 2000, dims: int = 64) -> str:
    """`documents.parquet` and `embeddings.parquet` in the testdata shape, with
    ~3% exact duplicates (case/space variants) and ~3% near duplicates."""
    rng = random.Random(seed)
    words = _VOCAB + list(_STOP) * 3
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:
            src = texts[rng.randrange(i)]
            texts.append(("  " + src.upper()) if rng.random() < 0.5 else src)
        elif i > 10 and r < 0.06:
            toks = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(toks) // 12)):
                toks[rng.randrange(len(toks))] = rng.choice(words)
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(words) for _ in range(rng.randint(8, 60))))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(_LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{rng.randrange(10)}" for _ in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(docs, os.path.join(out_dir, "documents.parquet"))

    nrng = np.random.default_rng(seed)
    centers = nrng.normal(0.0, 1.0, (8, dims))
    labels = nrng.integers(0, 8, n_vecs)
    vecs = (centers[labels] + nrng.normal(0.0, 0.8, (n_vecs, dims))).astype(np.float32) * 0.1
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


# --- stream_ingest ---------------------------------------------------------

EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
_HOUR_US = 3_600_000_000


def events(
    out_dir: str, seed: int, files: int, rows_per_file: int,
    late_frac: float = 0.02, dup_frac: float = 0.01,
) -> tuple[str, str]:
    """Time-ordered event files (file i covers hour 2i) in `<out>/in`, plus
    `<out>/ontime.parquet`: every event that is not planted late, for the
    batch twin. A late event is 7-8 hours older than its file: its window
    ends before the watermark Spark drops late rows against (the one the
    previous batch ran with, 5 hours behind the file with one file per
    batch). The two-hour step moves the watermark past a window at every
    batch, so three files already emit a window. From file 1 on, about
    `dup_frac` of rows repeat an earlier event_id."""
    rng = np.random.default_rng(seed)
    in_dir = os.path.join(out_dir, "in")
    os.makedirs(in_dir, exist_ok=True)
    ontime = []
    next_id = 0
    for i in range(files):
        n = rows_per_file
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        if i:
            dup = rng.random(n) < dup_frac
            ids[dup] = rng.integers(0, next_id - n, int(dup.sum()))
        # Spark drops late rows against the previous batch's watermark, which
        # first moves past the epoch after batch 1: late events start at file 2
        late = (rng.random(n) < late_frac) if i >= 2 else np.zeros(n, bool)
        start = _T0_US + 2 * i * _HOUR_US
        ts = np.sort(start + rng.integers(0, _HOUR_US, n))
        ts[late] = start - 7 * _HOUR_US - rng.integers(0, _HOUR_US, int(late.sum()))
        t = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 2000, n), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), n)], pa.string()
            ),
            "value": pa.array(np.round(rng.random(n) * 500, 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        })
        path = os.path.join(in_dir, f"events_{i:04d}.parquet")
        _write(t, path)
        # the file source orders by modification time: pin it to file order
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        ontime.append(t.filter(pa.array(~late)))
    ontime_path = os.path.join(out_dir, "ontime.parquet")
    _write(pa.concat_tables(ontime), ontime_path)
    return in_dir, ontime_path
