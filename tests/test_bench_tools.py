"""The bench tooling's contracts.

bench.py's one stdout line must fit the driver's tail window, and its
`weather_ok` comes from the in-run stage channel (every headline query's
executor cpu_over_run at or above STAGE_FLOOR). tools/bench_isolated.py
is the fresh-process single-query runner, and tools/ab.py compares two
code trees in alternating pairs; their parsing and refusal edges get
real pins (ADVICE r13: a trailing non-JSON stdout line must not demote a
completed multi-minute run; a non-numeric reps operand must refuse with
the usage string, not a raw traceback). Everything here is pure Python
except one test, which runs bench.run_query on the shared Spark session
to pin the job-group stage attribution.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(_REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def bench_isolated():
    return _load_tool("bench_isolated")


@pytest.fixture(scope="module")
def ab():
    return _load_tool("ab")


class _FakeProc:
    """Stand-in for the per-query child: canned stdout/stderr + exit."""

    def __init__(self, stdout: str, stderr: str = "", returncode: int = 0):
        self.pid = 4242
        self._out = (stdout, stderr)
        self.returncode = returncode

    def communicate(self, timeout=None):
        return self._out


RESULT_LINE = json.dumps(
    {"query": "fake_q", "cold": 1.0, "warm": [0.5], "warm_median": 0.5}
)


def test_arg_errors_exit_with_usage(bench_isolated, monkeypatch):
    """Every malformed operand refuses via SystemExit with a message —
    non-numeric reps included (ADVICE r13), matching the extra-operand
    guard; none reach query execution."""
    cases = [
        (["bench_isolated.py", "q", "three"], "reps must be an integer"),
        (["bench_isolated.py", "q", "0"], "reps must be >= 1"),
        (["bench_isolated.py", "q", "2", "sf", "extra"], "unexpected extra"),
        (["bench_isolated.py"], ""),  # bare usage
    ]
    for argv, needle in cases:
        monkeypatch.setattr(bench_isolated.sys, "argv", argv)
        with pytest.raises(SystemExit) as ei:
            bench_isolated.main()
        assert needle in str(ei.value)


def test_query_timeout_contract(bench_isolated, monkeypatch):
    """The reps-scaled child allowance: default scales with reps, the env
    override wins, 0/negative disables, NaN/garbage refuse loudly
    before any query runs."""
    monkeypatch.delenv("BENCH_ISOLATED_TIMEOUT", raising=False)
    assert bench_isolated.query_timeout(3) == 120.0 + 300.0 * 4
    monkeypatch.setenv("BENCH_ISOLATED_TIMEOUT", "42.5")
    assert bench_isolated.query_timeout(3) == 42.5
    monkeypatch.setenv("BENCH_ISOLATED_TIMEOUT", "0")
    assert bench_isolated.query_timeout(3) is None
    monkeypatch.setenv("BENCH_ISOLATED_TIMEOUT", "-1")
    assert bench_isolated.query_timeout(3) is None
    for bad in ("nan", "soon"):
        monkeypatch.setenv("BENCH_ISOLATED_TIMEOUT", bad)
        with pytest.raises(SystemExit):
            bench_isolated.query_timeout(3)


def test_run_child_timeout_keeps_output_tail(bench_isolated, monkeypatch):
    """The one fresh-process runner: a child that outlives its allowance
    has its whole process GROUP killed, and the error carries the
    child's stderr tail so the hang is diagnosable."""
    import subprocess

    class _HungProc(_FakeProc):
        def communicate(self, timeout=None):
            if timeout is not None:
                raise subprocess.TimeoutExpired("child", timeout)
            self.returncode = -9
            return "", "still in stage 3 of 7"

    proc = _HungProc("", returncode=None)
    monkeypatch.setattr(bench_isolated.subprocess, "Popen", lambda *a, **k: proc)
    killed = []
    monkeypatch.setattr(
        bench_isolated.os, "killpg", lambda pid, sig: killed.append(pid)
    )
    res = bench_isolated.run_child("/tree", "q", 1, "/sf", 5.0)
    assert res["error"].startswith("timeout after 5s")
    assert res["error"].endswith("still in stage 3 of 7")
    assert killed == [4242]


def test_run_child_reads_result_past_noise_and_reports_exits(
    bench_isolated, monkeypatch
):
    """A child whose result line is followed by stray output still
    returns its result; a non-zero exit returns its stderr tail as the
    error; exit 0 without a result line is an error too."""
    cases = [
        (_FakeProc("# noise\n" + RESULT_LINE + "\nJVM shutdown\n"),
         json.loads(RESULT_LINE)),
        (_FakeProc("", "Traceback: boom", returncode=1),
         {"error": "Traceback: boom"}),
        (_FakeProc("null\n"), {"error": "no result line in stdout: null\n"}),
    ]
    for proc, want in cases:
        monkeypatch.setattr(
            bench_isolated.subprocess, "Popen", lambda *a, **k: proc
        )
        assert bench_isolated.run_child("/tree", "q", 1, "/sf", 5.0) == want


def test_parse_result_line_contract(bench_isolated):
    """The child-result acceptance predicate: reverse scan, numeric
    projection keys required, noise and lookalikes rejected."""
    f = bench_isolated.parse_result_line
    parsed, line = f("# noise\n" + RESULT_LINE + "\ntrailing junk\n")
    assert parsed["warm_median"] == 0.5 and line == RESULT_LINE
    assert f("") == (None, "")
    assert f("null\n17\n") == (None, "")
    assert f(json.dumps({"warm_median": 0.5})) == (None, "")
    assert f(
        json.dumps({"cold": "n/a", "warm": "n/a", "warm_median": "n/a"})
    ) == (None, "")


# ---------------------------------------------------------------------------
# bench.py stdout contract (VERDICT r16 #1): the driver keeps only the
# last ~2000 bytes of stdout; r16's fat record outgrew it and the round
# artifact came back parsed:null. The final line is now compact and
# SIZE-PINNED here against the worst-case record shape.


def test_final_line_fits_driver_tail_worst_case():
    import bench

    # worst case: every headline timing at 5-digit seconds with 3
    # decimals (no real query has ever exceeded 4 digits), totals
    # likewise, weather false, a deep sidecar path
    worst_timings = {name: 99999.999 for name in bench.HEADLINE}
    line = bench.compact_record(
        total=999999.999,
        timings=worst_timings,
        total_cold=999999.999,
        sf=0.001,
        weather_ok=False,
        detail_path="/root/repo/" + "x" * 60 + "/BENCH_DETAIL.json",
    )
    assert len(line) <= bench.FINAL_LINE_BUDGET
    # the budget itself must clear the driver's tail window with slack
    # for the newline and stray post-print stdout
    assert bench.FINAL_LINE_BUDGET <= 1800
    doc = json.loads(line)
    # the keys the driver's series and cross-round tooling read
    assert doc["value"] == 999999.999
    assert doc["unit"] == "sec"
    assert set(doc["queries"]) == set(bench.HEADLINE)
    assert doc["weather_ok"] is False
    assert "queries_warm" not in doc  # the fat keys stay in the sidecar
    assert "host" not in doc


def test_final_line_budget_enforced_at_runtime():
    """Review r17: the budget must hold for env-driven unbounded strings
    (sidecar path, non-numeric sf dir), not just the test's fixed
    inputs — degrade ladder: full -> sidecar basename -> drop the
    per-query map. value/weather_ok always survive."""
    import bench

    timings = {name: 99999.999 for name in bench.HEADLINE}
    # a pathological sidecar path and a non-numeric sf string
    line = bench.compact_record(
        total=1.0, timings=timings, total_cold=2.0,
        sf="/some/dir/without/a/numeric/suffix/" * 20,
        weather_ok=True,
        detail_path="/x/" + "d" * 3000 + "/BENCH_DETAIL.json",
    )
    assert len(line) <= bench.FINAL_LINE_BUDGET
    doc = json.loads(line)
    assert doc["value"] == 1.0 and doc["weather_ok"] is True
    assert doc["detail"] == "BENCH_DETAIL.json"  # degraded to basename
    assert set(doc["queries"]) == set(bench.HEADLINE)  # medians survive
    assert len(doc["sf"]) <= 64
    # a 5000-char BASENAME is truncated to 128 and still fits with the
    # query map intact (degrade step 2, not 3)
    line = bench.compact_record(
        total=1.0, timings=timings, total_cold=2.0, sf=0.1,
        weather_ok=False, detail_path="b" * 5000,
    )
    assert len(line) <= bench.FINAL_LINE_BUDGET
    doc = json.loads(line)
    assert doc["value"] == 1.0 and set(doc["queries"]) == set(bench.HEADLINE)
    assert len(doc["detail"]) == 128
    # the last-resort step (drop the query map, keep value/weather_ok)
    # exists for future headline growth — force it with a tiny budget
    import unittest.mock as mock

    with mock.patch.object(bench, "FINAL_LINE_BUDGET", 400):
        line = bench.compact_record(
            total=1.0, timings=timings, total_cold=2.0, sf=0.1,
            weather_ok=False, detail_path="b" * 5000,
        )
        assert len(line) <= 400
        doc = json.loads(line)
        assert doc["value"] == 1.0 and doc["queries"] == {}
    # escape-expanding env strings (review r17 x2): ensure_ascii blows
    # each non-ASCII char to 6-12 serialized bytes, so the budget must
    # be checked on the SERIALIZED line, every rung — this exact input
    # produced a 1790-char line under the char-count version
    line = bench.compact_record(
        total=1.0, timings=timings, total_cold=2.0,
        sf="\\" * 200, weather_ok=False,
        detail_path="/tmp/" + "\U0001f600" * 200 + ".json",
    )
    assert len(line) <= bench.FINAL_LINE_BUDGET
    assert json.loads(line)["value"] == 1.0
    # sidecar_written=False marks the detail field on every rung — the
    # line must never name a sidecar that was not written, including
    # after the basename degrade (review r17 pass 3: an explicit
    # parameter, not a marker sniffed off the path string)
    line = bench.compact_record(
        total=1.0, timings=timings, total_cold=2.0, sf=0.1,
        weather_ok=False,
        detail_path="/deep/" + "p" * 2000 + "/D.json",
        sidecar_written=False,
    )
    assert len(line) <= bench.FINAL_LINE_BUDGET
    assert json.loads(line)["detail"] == "unwritable: D.json"
    line = bench.compact_record(
        total=1.0, timings=timings, total_cold=2.0, sf=0.1,
        weather_ok=True, detail_path="/short/D.json",
        sidecar_written=False,
    )
    assert json.loads(line)["detail"] == "unwritable: /short/D.json"


def test_run_query_bills_stages_by_job_group(spark, monkeypatch):
    """bench.run_query labels a query's jobs `bench:<name>`, and
    query_stage_weather bills each query exactly the stages of its own
    group's jobs (the broadcast job included) and nothing to the
    unlabelled warm-up that ran right before. A REST failure yields None
    for each query, never an exception."""
    import bench
    from conftest import SF01 as sf
    from perfbench import spans
    from pyspark.sql import functions as F


    def scan(s, d):
        return s.read.parquet(os.path.join(d, "nation.parquet"))

    def bcast_join(s, d):
        n, r = scan(s, d), s.read.parquet(os.path.join(d, "region.parquet"))
        return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)

    rest = spans.SparkRest(spark.sparkContext)
    first_job = rest.next_job_id()
    scan(spark, sf).count()  # the unlabelled warm-up
    names = ["t_scan", "t_bcast_join"]
    for name, fn in zip(names, (scan, bcast_join)):
        res = bench.run_query(spark, name, fn, sf, 1)
        assert set(res) == {"cold", "warm", "warm_median"}
        assert len(res["warm"]) == 1 and res["warm_median"] == res["warm"][0]
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None

    out = bench.query_stage_weather(spark, names)
    jobs, stages = rest.phase(first_job)
    jobs.sort(key=lambda j: j["jobId"])
    groups = [j.get("jobGroup") for j in jobs]
    # the warm-up's jobs come first and carry no bench group; every later
    # job (footer reads, the broadcast, the noop writes) carries one
    n_warm = groups.index("bench:t_scan")
    assert n_warm >= 1
    assert set(groups[n_warm:]) == {"bench:t_scan", "bench:t_bcast_join"}
    # per run the join adds a second footer read and the broadcast job
    assert groups.count("bench:t_bcast_join") == groups.count("bench:t_scan") + 4
    for name in names:
        mine = [
            i for j in jobs if j.get("jobGroup") == f"bench:{name}"
            for i in j["stageIds"] if stages[i]["status"] != "SKIPPED"
        ]
        assert out[name]["stages"] == len(mine) > 0
        assert set(out[name]) == {"stages", "run_ms", "cpu_ms", "cpu_over_run"}
        assert out[name]["run_ms"] > 0 and out[name]["cpu_over_run"] > 0

    def boom(self, path):
        raise OSError("UI down")

    monkeypatch.setattr(spans.SparkRest, "get", boom)
    assert bench.query_stage_weather(spark, names) == {
        "t_scan": None, "t_bcast_join": None,
    }


def _bench_main(monkeypatch, tmp_path, capsys, rollups):
    """bench.main() over fake queries whose stage rollups are `rollups`;
    returns (stdout record, sidecar). No Spark session starts."""
    import bench
    from types import SimpleNamespace

    from schemamap_spark import session

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        read=SimpleNamespace(
            parquet=lambda path: SimpleNamespace(count=lambda: 25)
        ),
        stop=lambda: None,
    )
    monkeypatch.setattr(session, "get_spark", lambda name: spark)
    monkeypatch.setattr(
        bench, "headline_registry", lambda: dict.fromkeys(bench.HEADLINE)
    )
    monkeypatch.setattr(
        bench, "run_query",
        lambda spark, name, fn, sf_dir: {
            "cold": 2.0, "warm": [1.0, 1.0, 1.0], "warm_median": 1.0,
        },
    )
    monkeypatch.setattr(
        bench, "query_stage_weather", lambda spark, names: dict(rollups)
    )
    detail = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.01")
    bench.main()
    line = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(line), json.loads(detail.read_text())


def test_weather_ok_from_stage_floor(monkeypatch, tmp_path, capsys):
    """weather_ok is true only when every headline query has a stage
    rollup at or above STAGE_FLOOR; the sidecar's `weather` key names
    each query below the floor or without a rollup."""
    import bench

    def rollup(ratio):
        return {"stages": 2, "run_ms": 100, "cpu_ms": int(100 * ratio),
                "cpu_over_run": ratio}

    assert bench.STAGE_FLOOR == 0.3
    healthy = {q: rollup(0.9) for q in bench.HEADLINE}
    healthy["q01_scan"] = rollup(bench.STAGE_FLOOR)
    doc, side = _bench_main(monkeypatch, tmp_path, capsys, healthy)
    assert set(doc) == {
        "metric", "value", "unit", "queries", "value_cold", "sf",
        "weather_ok", "detail",
    }
    assert len(json.dumps(doc, separators=(",", ":"))) <= bench.FINAL_LINE_BUDGET
    assert doc["weather_ok"] is True and doc["sf"] == 0.01
    assert side["weather"] == {"stage_floor": 0.3, "below_floor": {}}
    assert not {"host", "host_after"} & set(side)

    collapsed = {**healthy, "bm25": rollup(0.2)}
    doc, side = _bench_main(monkeypatch, tmp_path, capsys, collapsed)
    assert doc["weather_ok"] is False
    assert side["weather"]["below_floor"] == {"bm25": 0.2}

    missing = {**healthy, "dedup_exact": None}
    doc, side = _bench_main(monkeypatch, tmp_path, capsys, missing)
    assert doc["weather_ok"] is False
    assert side["weather"]["below_floor"] == {"dedup_exact": None}


# ---------------------------------------------------------------------------
# tools/ab.py: alternating parent/change pairs, judged per end-to-end metric


def _ab_rows(ab, monkeypatch, capsys, child, argv):
    """Run ab.main with each rev standing for its own tree; return the
    printed table as {metric name: cells}."""
    monkeypatch.setattr(ab, "export_tree", lambda rev, stack: rev)
    ab.main(argv, child=child)
    rows = {}
    for line in capsys.readouterr().out.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if line.startswith("| ") and cells[0] != "metric":
            rows[cells[0].split(" (")[0]] = cells
    return rows


def test_ab_pairs_alternate_order(ab):
    calls = []

    def child(tree, seed):
        calls.append((seed, tree))
        return {"metrics": {"m": 1.0}}

    runs = ab.run_pairs({"parent": "OLD", "change": "NEW"}, [21, 22, 23], child)
    assert calls == [
        (21, "OLD"), (21, "NEW"),
        (22, "NEW"), (22, "OLD"),
        (23, "OLD"), (23, "NEW"),
    ]
    assert [seed for seed, _ in runs["change"]] == [21, 22, 23]


def test_ab_quartiles_wins_ties_and_direction(ab, monkeypatch, capsys):
    """q1 / median / q3 per side, wins with ties for neither side, the
    median gap against the parent's IQR, and each metric's direction
    and bound as BENCHMARK.json declares them (rows_per_s higher-better,
    cpu_s lower-better)."""
    assert ab.quartiles([5.0, 1.0, 4.0, 2.0, 3.0]) == (2.0, 3.0, 4.0)
    assert ab.quartiles([1.0, 2.0]) == (1.25, 1.5, 1.75)
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)

    def child(tree, seed):
        i, new = seed - 1, tree == "NEW"
        return {"correct": True, "failed": 0, "metrics": {
            "op_p50_ms": ([50, 60, 70, 80, 90] if new
                          else [100, 110, 120, 130, 140])[i],
            # seeds 1-2 tie, 3-5 the change is higher
            "rows_per_s": 1500.0 if new and seed > 2 else 1000.0,
            "cpu_s": 2.0 if new else 1.0,
            # the change wins every pair but by less than the parent IQR
            "peak_rss_mb": 100.0 * (i + 1) - (10 if new else 0),
        }}

    rows = _ab_rows(ab, monkeypatch, capsys, child,
                    ["OLD", "NEW", "--workload", "stream_ingest",
                     "--seeds", "1-5"])
    assert rows["op_p50_ms"] == [
        "op_p50_ms (lower)", "110 / 120 / 130", "60 / 70 / 80", "0.58",
        "5/5", "50 > 20", "yes (25%)", "none",
    ]
    assert rows["rows_per_s"] == [
        "rows_per_s (higher)", "1,000 / 1,000 / 1,000",
        "1,000 / 1,500 / 1,500", "1.50", "3/5", "500 > 0", "yes (25%)",
        "none",
    ]
    assert rows["cpu_s"][0] == "cpu_s (lower)"
    assert rows["cpu_s"][3:7] == ["2.00", "0/5", "1 > 0", "NO (25%)"]
    assert rows["peak_rss_mb"][4:7] == ["5/5", "10 <= 200", "yes (15%)"]
    # metrics the runs did not report are rows without data, not errors
    assert rows["setup_s"][1] == "no data"


def test_ab_flags_incorrect_and_failed_runs(ab, monkeypatch, capsys):
    """A run with correct:false or failed ops is named in every row; a
    run with no result drops its pair from the win count."""
    def child(tree, seed):
        if tree == "OLD" and seed == 3:
            return {"error": "boom"}
        bad = tree == "NEW" and seed == 2
        return {"correct": not bad, "failed": 2 if bad else 0,
                "metrics": {"op_p50_ms": 10.0 if tree == "NEW" else 20.0}}

    rows = _ab_rows(ab, monkeypatch, capsys, child,
                    ["OLD", "NEW", "--workload", "stream_ingest",
                     "--seeds", "1-3"])
    flagged = "parent seed 3: error; change seed 2: correct=false, failed=2"
    assert rows["op_p50_ms"][4] == "2/2"
    assert rows["op_p50_ms"][-1] == flagged
    assert rows["setup_s"][-1] == flagged


def test_ab_stops_when_both_sides_fail_the_first_pair(ab, monkeypatch, capsys):
    """A failure both trees share (a golden pinned to another scale, a
    missing data dir) ends the run after one pair with the error."""
    calls = []

    def child(tree, seed):
        calls.append((seed, tree))
        return {"error": f"GoldenScaleMismatch in {tree}"}

    monkeypatch.setattr(ab, "export_tree", lambda rev, stack: rev)
    with pytest.raises(SystemExit) as ei:
        ab.main(["OLD", "NEW", "--query", "dedup_simhash", "--seeds", "1-10"],
                child=child)
    assert calls == [(1, "OLD"), (1, "NEW")]
    assert ei.value.code != 0
    assert "parent: GoldenScaleMismatch in OLD" in str(ei.value.code)
    assert "change: GoldenScaleMismatch in NEW" in str(ei.value.code)
    assert capsys.readouterr().out == ""


def test_ab_refuses_bad_operands_before_any_child(ab, monkeypatch, capsys):
    def never(*a, **k):
        raise AssertionError("nothing may run before the operands check")

    monkeypatch.setattr(ab, "export_tree", never)
    for seeds in ("3-1", "a-b", "5", "1-", ""):
        with pytest.raises(SystemExit) as ei:
            ab.main(["OLD", "NEW", "--workload", "stream_ingest",
                     "--seeds", seeds], child=never)
        assert "--seeds takes A-B" in str(ei.value)
    with pytest.raises(SystemExit) as ei:
        ab.main(["OLD", "NEW", "--workload", "nope", "--seeds", "1-2"],
                child=never)
    assert "unknown workload 'nope'" in str(ei.value)

