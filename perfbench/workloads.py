"""The four product workloads.

Each workload owns its inputs (written by `perfbench.gen` under the run's
work dir) and exposes:

- `prepare()`: generate inputs into a fresh directory and build the state
  the ops run against.
- `warm()`: untimed calls, by default one of every op kind. Pins the outputs
  the timed ops are checked against and gets JIT/codegen out of the timed
  phase.
- `cycle()`: one cycle of the fixed, seeded op list. The timed phase runs
  whole cycles, so every run has the same op mix.
- `finish()`: end-of-run checks; False marks the run incorrect.

Calls into the program are wrapped in tracer spans named `<layer>.<call>`;
with tracing off the spans cost nothing and set no job group.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen


@dataclass
class Outcome:
    rows: int
    ok: bool
    # per-op latencies when one call runs several ops (stream micro-batches)
    samples_ms: list[float] | None = None


@dataclass
class Op:
    name: str
    run: Callable[[], Outcome]


def force_plan(df: DataFrame) -> None:
    df._jdf.queryExecution().executedPlan()


@contextlib.contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace `module.name` with `wrapper(original)`."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def rows_digest(rows) -> str:
    return hashlib.sha256(repr(sorted(map(tuple, rows))).encode()).hexdigest()


class Workload:
    name = ""
    row_unit = ""

    def __init__(self, spark, tracer, rest, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.rest = rest
        self.work = work_dir
        self.seed = seed

    def fresh_dir(self) -> str:
        """The workload's input dir, created empty."""
        d = os.path.join(self.work, self.name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def build(self, make: Callable[[], DataFrame]) -> DataFrame:
        """Build a frame under `driver.build`; with tracing on, also force its
        physical plan under `driver.plan` (the action then reuses it when it
        runs on the same frame)."""
        with self.span("driver.build"):
            df = make()
        if self.tracer.enabled:
            with self.span("driver.plan"):
                force_plan(df)
        return df

    def tracing(self) -> contextlib.AbstractContextManager:
        """Instrumentation hooks installed for the traced pass only."""
        return contextlib.nullcontext()

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Run each distinct op of a cycle once."""
        seen = set()
        for op in self.cycle():
            if op.name in seen:
                continue
            seen.add(op.name)
            if not op.run().ok:
                raise RuntimeError(f"{self.name}: warm-up op {op.name} failed")

    def cycle(self) -> list[Op]:
        raise NotImplementedError

    def finish(self) -> bool:
        return True


# --- catalog_dashboard -----------------------------------------------------

FILTER_CONCEPTS = ("pii", "primary_key", "foreign_key", "indexed", "natural_key", "unique_key")
USER_CONCEPTS = {
    "has_default": lambda smo: smo["default_value"].isNotNull(),
    "text_column": lambda smo: smo["data_type"] == "text",
    "low_attnum": lambda smo: smo["attnum"] <= 2,
}
# 10 ops: 1 refresh, 1 define + status_json, 5 status_json, 1 candidates,
# 2 concept filters. Three ops run faster than a warm status_json and two or
# three slower (define, the status_json that rebuilds after a refresh, and
# at times the refresh), so the median of whole cycles falls inside the warm
# status_json cluster rather than on the edge between two kinds of op.
DASHBOARD_PATTERN = (
    "refresh", "status", "candidates", "status", "columns",
    "define", "status", "columns", "status", "status",
)


class CatalogDashboard(Workload):
    """The status dashboard over a 20-tenant catalog (~33k SMO column rows)."""

    name = "catalog_dashboard"
    row_unit = "SMO column rows per op"
    replicas = 20

    def __init__(self, *a):
        super().__init__(*a)
        rng = random.Random(self.seed)
        self.concept = rng.choice(FILTER_CONCEPTS)
        self.defines = [rng.choice(sorted(USER_CONCEPTS)) for _ in range(4)]
        self.rows = 0
        self.pins: dict[str, object] = {}
        self.memo_calls = 0
        self.memo_hits = 0
        self.n_defined = 0

    def prepare(self) -> None:
        from schemamap_spark.catalog.fixture import FixtureCatalog
        from schemamap_spark.engine import SchemamapEngine

        d = self.fresh_dir()
        gen.catalog(os.path.join(d, "catalog"), self.seed, self.replicas)
        self.eng = SchemamapEngine(
            self.spark, FixtureCatalog(self.spark, os.path.join(d, "catalog")),
            warehouse_dir=os.path.join(d, "warehouse"),
        )

    def tracing(self):
        import schemamap_spark.engine as engine_mod

        stack = contextlib.ExitStack()
        eng = self.eng
        last: dict[str, object] = {}

        def memo(name):
            orig = getattr(eng, name)

            def call():
                with self.span("driver.build", call=name):
                    df = orig()
                self.memo_calls += 1
                self.memo_hits += last.get(name) is df
                last[name] = df
                with self.span("driver.plan"):
                    force_plan(df)
                return df
            return call

        for name in ("columns", "status", "master_data_entity_candidates"):
            setattr(eng, name, memo(name))
            stack.callback(delattr, eng, name)

        def smo_build(orig):
            def call(*a, **k):
                with self.span("smo.build"):
                    return orig(*a, **k)
            return call

        stack.enter_context(patched(engine_mod, "build_smo", smo_build))
        return stack

    def _status(self) -> Outcome:
        with self.span("engine.status_json"):
            js = self.eng.status_json()
        return self._pinned("status_json", js)

    def _pinned(self, key: str, value) -> Outcome:
        return Outcome(self.rows, self.pins.setdefault(key, value) == value)

    def _refresh(self) -> Outcome:
        with self.span("engine.refresh"):
            self.eng.refresh()
        return Outcome(self.rows, True)

    def _candidates(self) -> Outcome:
        with self.span("engine.candidates"):
            df = self.build(self.eng.master_data_entity_candidates)
            rows = df.collect()
        return self._pinned("candidates", rows_digest(rows))

    def _columns(self) -> Outcome:
        with self.span("engine.columns_filter"):
            df = self.build(
                lambda: self.eng.columns()
                .filter(F.col(f"is_{self.concept}"))
                .select("schema_name", "table_name", "column_name")
            )
            rows = df.collect()
        return self._pinned("columns", rows_digest(rows))

    def _define(self, name: str) -> Outcome:
        self.n_defined += 1
        with self.span("concepts.define"):
            self.eng.concepts.define(f"user_{name}", USER_CONCEPTS[name])
        # user concepts add view columns but no status counters
        return self._status()

    def warm(self) -> None:
        """The first status_json only: it builds and commits the first
        snapshot and pins the output. The first cycle runs the other kinds of
        op cold, as a dashboard's first minutes do; each pins its output at
        its first call."""
        import json

        js = self.eng.status_json()
        self.rows = json.loads(js)["column_count"]
        self.pins["status_json"] = js

    def cycle(self) -> list[Op]:
        run = {
            "refresh": self._refresh,
            "status": self._status,
            "candidates": self._candidates,
            "columns": self._columns,
            "define": lambda: self._define(self.defines[self.n_defined % len(self.defines)]),
        }
        return [Op(kind, run[kind]) for kind in DASHBOARD_PATTERN]

    def layer_counters(self) -> dict[str, float]:
        return {"engine.memo_hit_ratio": self.memo_hits / self.memo_calls if self.memo_calls else 0.0}


# --- batch_import ----------------------------------------------------------

IMPORT_MAPPINGS = {
    "id": ("id", "identity"),
    "name": ("name", "trim_str"),
    "email": ("email", "trim_str"),
    "country": ("country", "identity"),
    "amount": ("amount", "identity"),
    "created_at": ("created_at", "identity"),
}
IMPORT_CASTS = {"id": "bigint", "amount": "decimal(12,2)", "created_at": "timestamp"}


def import_rules():
    from schemamap_spark.imports import ColumnRule

    return [
        ColumnRule("id", not_null=True, unique=True),
        ColumnRule("name", not_null=True, min_length=2),
        ColumnRule("email", like="%@%"),
    ]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


class BatchImport(Workload):
    """Staged CSV batches imported and committed one after another: each op
    is read_staging_csv -> ImportPipeline.run -> write_parquet_atomic into the
    next target version, and the next batch merges against that commit."""

    name = "batch_import"
    row_unit = "staging rows committed"
    target_rows = 200_000
    batch_rows = 200_000
    n_batches = 4
    cycle_ops = 2

    def prepare(self) -> None:
        d = self.fresh_dir()
        self.dir = d
        self.target0, self.batches = gen.import_batches(
            d, self.seed, self.target_rows, self.batch_rows, self.n_batches
        )
        self.current = self.target0
        self.version = 0
        self.applied: list[int] = []
        self.amp: list[float] = []
        self.funnel = {"imports.loaded": 0, "imports.valid": 0, "imports.violations": 0}

    def tracing(self):
        import schemamap_spark.imports.pipeline as pipeline_mod

        def merge(orig):
            def call(*a, **k):
                with self.span("sources.merge_build"):
                    return orig(*a, **k)
            return call

        return patched(pipeline_mod, "merge_upsert", merge)

    def _import(self, b: int) -> Outcome:
        from schemamap_spark.imports import ImportPipeline
        from schemamap_spark.imports.states import MigrationState
        from schemamap_spark.sources.readers import read_staging_csv
        from schemamap_spark.sources.sinks import write_parquet_atomic

        path = self.batches[b]
        with self.span("sources.read_csv"):
            staging = read_staging_csv(self.spark, path)
        target = self.spark.read.parquet(self.current)
        with self.span("imports.run"):
            res = ImportPipeline(self.spark).run(
                staging, target, keys=["id"], column_mappings=IMPORT_MAPPINGS,
                casts=IMPORT_CASTS, rules=import_rules(), mde_name="people",
            )
        if res.state is not MigrationState.IMPORTED:
            return Outcome(0, False)
        ok = res.loaded_rows == self.batch_rows == res.valid_rows + res.violation_rows
        nxt = os.path.join(self.dir, f"target_v{self.version + 1}")
        with self.span("sources.commit"):
            write_parquet_atomic(res.merged, nxt)
        if self.tracer.enabled:
            self.amp.append(dir_bytes(nxt) / os.path.getsize(path))
            for k, v in (("loaded", res.loaded_rows), ("valid", res.valid_rows),
                         ("violations", res.violation_rows)):
                self.funnel[f"imports.{k}"] += v
        if self.current != self.target0:
            shutil.rmtree(self.current)
        self.current, self.version = nxt, self.version + 1
        self.applied.append(b)
        return Outcome(res.valid_rows, ok)

    def cycle(self) -> list[Op]:
        # the batch index is read when the op runs: each op imports the next
        # batch (round-robin) against the latest commit
        return [
            Op("import", lambda: self._import(len(self.applied) % self.n_batches))
            for _ in range(self.cycle_ops)
        ]

    def finish(self) -> bool:
        """The committed target equals a DuckDB replay of the same upserts."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            con.execute(
                "create table t as select id, name, email, country, amount, "
                f"epoch_us(created_at) as created_us from read_parquet('{self.target0}/*.parquet')"
            )
            for b in self.applied:
                con.execute(
                    "create or replace temp table s as select cast(id as bigint) as id, "
                    "trim(name) as name, trim(email) as email, country, "
                    "cast(amount as decimal(12,2)) as amount, "
                    "epoch_us(cast(created_at as timestamp)) as created_us "
                    f"from read_csv('{self.batches[b]}', header=true, all_varchar=true)"
                )
                con.execute(
                    "create or replace temp table v as select * from s where id is not null "
                    "and name is not null and length(name) >= 2 "
                    "and (email is null or email like '%@%') "
                    "and id in (select id from s group by id having count(*) = 1)"
                )
                con.execute(
                    "create or replace table t as "
                    "select * from t anti join v using (id) union all select * from v"
                )
            digest = (
                "select count(*), sum(hash(id, name, email, country, amount, created_us)) from {}"
            )
            want = con.execute(digest.format("t")).fetchone()
            got = con.execute(digest.format(
                "(select id, name, email, country, amount, epoch_us(created_at) as created_us "
                f"from read_parquet('{self.current}/*.parquet'))"
            )).fetchone()
        finally:
            con.close()
        return want == got

    def layer_counters(self) -> dict[str, float]:
        return {**self.funnel, "sources.write_amp": sum(self.amp) / len(self.amp) if self.amp else 0.0}


# --- corpus_curation -------------------------------------------------------


def _corpus_queries():
    from schemamap_spark.suite import llm

    # (span name, suite callable): each callable builds one operator's frame
    # over the generated documents/embeddings
    return (
        ("operators.minhash_lsh_similar_pairs", llm.dedup_minhash_lsh),
        ("functions.text_profile", llm.text_profile),
        ("operators.cosine_topk", llm.ann_topk_cosine),
    )


def output_digest(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with an observed (row count, order-insensitive hash) computed as
    the rows stream into the sink."""
    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, T.MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols) % 2_147_483_647), F.lit(0)).alias("h"),
    )
    return out, obs


class CorpusCuration(Workload):
    """The curation/retrieval operator list over 5,000 documents and 2,000
    embeddings, each op written to the `noop` sink."""

    name = "corpus_curation"
    row_unit = "input documents per op"
    n_docs = 5000
    n_vecs = 2000
    # the op list twice per cycle: six samples per run rather than three
    passes = 2

    def prepare(self) -> None:
        self.sf = gen.corpus(os.path.join(self.fresh_dir(), "sf"), self.seed, self.n_docs, self.n_vecs)
        self.pins: dict[str, tuple] = {}
        self.out_rows: dict[str, int] = {}
        self.cached_delta: list[float] = []

    def _op(self, name: str, query) -> Outcome:
        traced = self.tracer.enabled
        before = self.rest.storage_mb() if traced else 0.0
        with self.span(name):
            df = self.build(lambda: query(self.spark, self.sf))
            out, obs = output_digest(df)
            out.write.format("noop").mode("overwrite").save()
        got = obs.get
        if traced:
            self.cached_delta.append(self.rest.storage_mb() - before)
        key = (got["n"], got["h"])
        self.out_rows[name] = got["n"]
        return Outcome(self.n_docs, self.pins.setdefault(name, key) == key)

    def warm(self) -> None:
        """Each operator once, all at the same time: a cold call is mostly
        first-run code generation, which overlaps across calls."""
        from concurrent.futures import ThreadPoolExecutor

        ops = self.cycle()[: len(_corpus_queries())]
        with ThreadPoolExecutor(len(ops)) as ex:
            if not all(out.ok for out in ex.map(lambda op: op.run(), ops)):
                raise RuntimeError(f"{self.name}: warm-up failed")

    def cycle(self) -> list[Op]:
        return [Op(n, lambda n=n, q=q: self._op(n, q)) for n, q in _corpus_queries()] * self.passes

    def layer_counters(self) -> dict[str, float]:
        return {
            "operators.out_rows": sum(self.out_rows.values()),
            "operators.cached_mb_delta": (
                sum(self.cached_delta) / len(self.cached_delta) if self.cached_delta else 0.0
            ),
        }


# --- stream_ingest ---------------------------------------------------------


class StreamIngest(Workload):
    """Event files through stream_events_from_directory(max_files_per_trigger=1)
    -> windowed_counts -> checkpointed parquet sink, trigger availableNow.
    One op is one micro-batch; a cycle is one fresh query over all files."""

    name = "stream_ingest"
    row_unit = "input events"
    files = 3
    rows_per_file = 20_000

    def prepare(self) -> None:
        self.dir = self.fresh_dir()
        self.in_dir, self.ontime = gen.events(self.dir, self.seed, self.files, self.rows_per_file)
        # the warm-up query reads the first file only: query start and the
        # first batch carry most of a cold query's code generation
        self.warm_dir = os.path.join(self.dir, "warm_in")
        os.makedirs(self.warm_dir)
        first = sorted(os.listdir(self.in_dir))[0]
        shutil.copy2(os.path.join(self.in_dir, first), self.warm_dir)
        self.rounds = 0
        self.traced_progress: list[list[dict]] = []  # one list per traced query
        self.sinks: list[tuple[str, list]] = []  # (final watermark, sink rows) per round

    def _sink_rows(self, path: str) -> list:
        rows = self.spark.read.parquet(path).collect()
        return sorted(map(tuple, rows))

    def _twin(self, watermark: str) -> list:
        """The batch twin: windowed_counts over the on-time events, keeping the
        windows the stream has emitted (window end <= final watermark)."""
        from schemamap_spark.streaming.pipeline import windowed_counts

        batch = windowed_counts(self.spark.read.parquet(self.ontime)).filter(
            (F.col("window_start") + F.expr("interval 1 hour"))
            <= F.to_timestamp(F.lit(watermark))
        )
        return sorted(map(tuple, batch.collect()))

    def _query(self, in_dir: str) -> tuple[list[dict], list]:
        """One availableNow query over `in_dir` into a fresh sink. Returns
        its progress and its sink rows."""
        from schemamap_spark.streaming.pipeline import stream_events_from_directory, windowed_counts

        out = os.path.join(self.dir, f"round{self.rounds}")
        self.rounds += 1
        with self.span("streaming.round") as sp:
            events = stream_events_from_directory(self.spark, in_dir, max_files_per_trigger=1)
            q = (
                windowed_counts(events).writeStream.format("parquet")
                .option("checkpointLocation", os.path.join(out, "checkpoint"))
                .option("path", os.path.join(out, "sink"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if sp is not None:
                sp.extra_groups.append(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        got = self._sink_rows(os.path.join(out, "sink"))
        shutil.rmtree(out)
        return q.recentProgress, got

    def warm(self) -> None:
        self._query(self.warm_dir)

    def _round(self) -> Outcome:
        progress, got = self._query(self.in_dir)
        data = [p for p in progress if p["numInputRows"] > 0]
        if self.tracer.enabled:
            self.traced_progress.append(progress)
        self.sinks.append((progress[-1]["eventTime"]["watermark"], got))
        return Outcome(
            sum(p["numInputRows"] for p in data),
            len(got) > 0,
            [float(p["durationMs"]["triggerExecution"]) for p in data],
        )

    def finish(self) -> bool:
        """Every round's sink equals the batch twin."""
        twins = {wm: self._twin(wm) for wm in {wm for wm, _ in self.sinks}}
        return bool(self.sinks) and all(got == twins[wm] for wm, got in self.sinks)

    def cycle(self) -> list[Op]:
        return [Op("stream_round", self._round)]

    def layer_counters(self) -> dict[str, float]:
        from statistics import median

        data = [p for q in self.traced_progress for p in q if p["numInputRows"] > 0]
        if not data:
            return {}
        queries = len(self.traced_progress)
        state = [p["stateOperators"][0] for p in data]

        def dur(key):
            return median(float(p["durationMs"].get(key, 0)) for p in data)

        return {
            "streaming.batches": len(data) / queries,
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.addbatch_ms": dur("addBatch"),
            "streaming.walcommit_ms": dur("walCommit"),
            "streaming.state_rows": median(s["numRowsTotal"] for s in state),
            "streaming.state_mem_mb": median(s["memoryUsedBytes"] for s in state) / 2**20,
            "streaming.late_rows_dropped": sum(
                s.get("numRowsDroppedByWatermark", 0) for s in state
            ) / queries,
        }


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (CatalogDashboard, BatchImport, CorpusCuration, StreamIngest)
}
