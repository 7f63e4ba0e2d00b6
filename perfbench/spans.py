"""In-memory spans, the statistics the benchmark reports, and the join of
spans with Spark's status REST API.

A span records (name, start, end, parent, op) around one call into the
program. Each span runs under its own Spark job group, so after the op list
every job — and through the job, every stage — is attributed to the span
that submitted it by label, never by clock windows.
"""

from __future__ import annotations

import json
import math
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


# --- statistics ------------------------------------------------------------


def _rank(pct: float, n: int) -> int:
    # 1-based nearest rank; the epsilon keeps e.g. 99.9% of 10,000 at 9,990
    return max(1, math.ceil(pct * n / 100.0 - 1e-9))


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least `pct`% of
    the samples at or below it."""
    xs = sorted(samples)
    return xs[_rank(pct, len(xs)) - 1]


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """(pct, value) for the highest ladder percentile that leaves at least
    `beyond` samples above its rank. With fewer than 2*`beyond` samples no
    percentile qualifies; the median is then the highest resolvable point and
    is returned with pct 50."""
    n = len(samples)
    best = 50.0
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= beyond:
            best = pct
    return best, percentile(samples, best)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    extra_groups: list[str] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of its interval that its
    children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.ms - covered(kids.get(s.sid, []), s.start, s.end) * 1e3 for s in spans
    }


def outermost(spans: list[Span], name: str) -> list[Span]:
    """The spans called `name` that have no ancestor of the same name."""
    by_id = {s.sid: s for s in spans}

    def nested(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == name:
                return True
            p = by_id[p].parent
        return False

    return [s for s in spans if s.name == name and not nested(s)]


def build_plan_ms(spans: list[Span], build: str = "driver.build",
                  plan: str = "driver.plan") -> tuple[float, float]:
    """Total (build, plan) milliseconds over the outermost spans of each
    name. A plan span inside a build span (a wrapped call forcing its plan
    while its caller builds) counts as plan time only."""
    plans = outermost(spans, plan)
    inside = {s.sid for s in outermost(spans, build)}
    by_id = {s.sid: s for s in spans}

    def under_build(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if p in inside:
                return True
            p = by_id[p].parent
        return False

    build_ms = sum(by_id[i].ms for i in inside) - sum(p.ms for p in plans if under_build(p))
    return build_ms, sum(p.ms for p in plans)


class Tracer:
    """Span recorder. Disabled, `span()` costs one branch and records
    nothing, and no job group is set."""

    def __init__(self, sc, enabled: bool, prefix: str = "pb"):
        self.sc = sc
        self.enabled = enabled
        self.prefix = prefix
        self.root_group = f"{prefix}:root"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            sid=len(self.spans), name=name, op=self.op,
            parent=self._stack[-1].sid if self._stack else None,
            start=time.perf_counter(), attrs=dict(attrs),
        )
        s.group = f"{self.prefix}:{s.sid}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            outer = self._stack[-1].group if self._stack else self.root_group
            self.sc.setJobGroup(outer, "perfbench")


# --- Spark status REST ----------------------------------------------------

_STAGE_SUMS = {
    "cpu_ms": ("executorCpuTime", 1e-6),
    "task_run_ms": ("executorRunTime", 1.0),
    "gc_ms": ("jvmGcTime", 1.0),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


class SparkRest:
    """Read-only client for this application's status REST API (served by
the Spark driver)."""

    def __init__(self, sc):
        self.sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def next_job_id(self) -> int:
        """The id the scheduler gives the next job (ids follow submission order)."""
        return self.sc._jsc.sc().dagScheduler().numTotalJobs()

    def phase(self, first_job_id: int) -> tuple[list[dict], dict[int, dict]]:
        """Every job with id >= `first_job_id` (job ids are assigned in
        submission order) and the latest attempt of each of its stages."""
        self.settle()
        jobs = [j for j in self.get("jobs") if j["jobId"] >= first_job_id]
        want = {i for j in jobs for i in j["stageIds"]}
        stages: dict[int, dict] = {}
        for st in self.get("stages"):
            if st["stageId"] in want:
                prev = stages.get(st["stageId"])
                if prev is None or st["attemptId"] > prev["attemptId"]:
                    stages[st["stageId"]] = st
        return jobs, stages

    def storage_mb(self) -> float:
        """Memory held by cached/persisted blocks right now."""
        return sum(r.get("memoryUsed", 0) for r in self.get("storage/rdd")) / 2**20


def stage_totals(stage_list: list[dict]) -> dict[str, float]:
    out = {k: 0.0 for k in _STAGE_SUMS}
    out["stages"] = 0
    for st in stage_list:
        if st.get("status") == "SKIPPED":
            continue
        out["stages"] += 1
        for k, (field_, scale) in _STAGE_SUMS.items():
            out[k] += st.get(field_, 0) * scale
    return out


def attribute(spans: list[Span], jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Join spans with a phase's jobs by job group. Returns per-span stage
    totals (`by_span`; a stage belongs to the span whose group submitted its
    first job, so these are self totals) and the share of the phase's
    executor CPU in stages whose jobs carry no span's group."""
    owner: dict[str, int] = {}
    for s in spans:
        owner[s.group] = s.sid
        for g in s.extra_groups:
            owner[g] = s.sid
    seen: set[int] = set()
    per: dict[int, list[dict]] = {}
    n_jobs: dict[int, int] = {}
    loose: list[dict] = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        sid = owner.get(j.get("jobGroup"))
        if sid is not None:
            n_jobs[sid] = n_jobs.get(sid, 0) + 1
        for i in j["stageIds"]:
            if i in seen or i not in stages:
                continue
            seen.add(i)
            (per.setdefault(sid, []) if sid is not None else loose).append(stages[i])
    by_span = {sid: {**stage_totals(lst), "jobs": n_jobs.get(sid, 0)} for sid, lst in per.items()}
    att_cpu = sum(t["cpu_ms"] for t in by_span.values())
    loose_cpu = stage_totals(loose)["cpu_ms"]
    total = att_cpu + loose_cpu
    return {"by_span": by_span, "unattributed_frac": loose_cpu / total if total else 0.0}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
