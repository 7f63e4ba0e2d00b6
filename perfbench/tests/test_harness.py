"""Tests for the benchmark's own helpers: statistics, span self time,
seeded input generation, job-group attribution and the result contract."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.spans import (
    Span, attribute, build_plan_ms, covered, percentile, self_ms, tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- tail percentile -------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(10, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(1, n + 1)]
    got_pct, value = tail_percentile(samples)
    assert got_pct == pct
    # nearest rank: `value` is the rank-th smallest; at least 10 lie above it
    # whenever any ladder step qualifies
    assert value == percentile(samples, pct)
    if n >= 20:
        assert sum(1 for x in samples if x > value) >= 10


def test_percentile_is_nearest_rank_and_order_free():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0


# --- self time -------------------------------------------------------------


def _span(sid, start, end, parent=None, name="x"):
    return Span(sid=sid, name=name, op=0, parent=parent, start=start, end=end)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-2, 1), (9, 12)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_is_duration_minus_children_cover():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),   # overlaps its sibling
        _span(3, 2.5, 2.75, parent=2),  # grandchild: counts against span 2 only
        _span(4, 7.0, 8.0, parent=0),
    ]
    got = self_ms(spans)
    assert got[0] == pytest.approx((10 - 5) * 1e3)
    assert got[2] == pytest.approx((3 - 0.25) * 1e3)
    assert got[1] == pytest.approx(2e3)


def test_plan_forced_inside_a_build_counts_once():
    build, plan = "driver.build", "driver.plan"
    spans = [
        _span(0, 0.0, 20.0, name="engine.candidates"),
        _span(1, 0.0, 10.0, parent=0, name=build),   # the caller's build
        _span(2, 1.0, 6.0, parent=1, name=build),    # a wrapped call inside it
        _span(3, 6.0, 8.0, parent=1, name=plan),     # the wrapped call's plan
        _span(4, 10.0, 12.0, parent=0, name=plan),   # the caller's plan
        _span(5, 10.5, 11.0, parent=4, name=plan),   # nested plan: not outermost
        _span(6, 12.0, 13.0, name=build),            # a build with no plan
    ]
    build_ms, plan_ms = build_plan_ms(spans)
    assert build_ms == pytest.approx((10 - 2 + 1) * 1e3)
    assert plan_ms == pytest.approx((2 + 2) * 1e3)
    # together they never exceed the wall the spans cover
    assert build_ms + plan_ms <= 13e3


# --- generator determinism ------------------------------------------------


def _digests(d: str) -> dict[str, str]:
    out = {}
    for dp, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


GENERATORS = {
    "catalog": lambda d, seed: gen.catalog(d, seed, replicas=3),
    "import": lambda d, seed: gen.import_batches(d, seed, 2000, 1000, 2),
    "corpus": lambda d, seed: gen.corpus(d, seed, n_docs=300, n_vecs=100),
    "events": lambda d, seed: gen.events(d, seed, files=3, rows_per_file=500),
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(kind, tmp_path):
    make = GENERATORS[kind]
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


# --- job-group attribution ------------------------------------------------


def test_broadcast_join_and_scalar_subquery_attribute_to_the_group(spark):
    from perfbench.spans import SparkRest, Tracer

    rest = SparkRest(spark.sparkContext)
    tracer = Tracer(spark.sparkContext, enabled=True)
    first = rest.next_job_id()
    with tracer.span("q"):
        spark.range(20_000).createOrReplaceTempView("pb_big")
        spark.range(100).createOrReplaceTempView("pb_small")
        rows = spark.sql(
            "select /*+ BROADCAST(s) */ b.id, (select max(id) from pb_small) as m "
            "from pb_big b join pb_small s on b.id = s.id"
        ).collect()
    assert len(rows) == 100
    jobs, stages = rest.phase(first)
    assert len(jobs) >= 2  # the broadcast and the subquery run as their own jobs
    assert {j.get("jobGroup") for j in jobs} == {tracer.spans[0].group}
    att = attribute(tracer.spans, jobs, stages)
    assert att["unattributed_frac"] == 0.0
    assert att["by_span"][0]["stages"] == sum(
        1 for s in stages.values() if s["status"] != "SKIPPED"
    )


# --- result contract -------------------------------------------------------


def test_benchmark_json_names_what_the_harness_prints():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_import", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
