"""The bench tooling's contracts.

tools/bench_isolated.py is the drift arbiter and tools/bench_trend.py the
round-over-round diff; both feed the judge's artifact trail, so their
classification/parsing edges get real pins (ADVICE r13: a trailing
non-JSON stdout line must not demote a completed multi-minute run to the
error map; a non-numeric reps operand must refuse with the usage string,
not a raw traceback). Everything here is pure Python except one test,
which runs bench.run_query on the shared Spark session to pin the
job-group stage attribution.
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
def bench_trend():
    return _load_tool("bench_trend")


@pytest.fixture(scope="module")
def bench_ab():
    return _load_tool("bench_ab")


class _FakeProc:
    """Stand-in for the per-query child: canned stdout/stderr + exit."""

    def __init__(self, stdout: str, stderr: str = "", returncode: int = 0):
        self.pid = 4242
        self._out = (stdout, stderr)
        self.returncode = returncode

    def communicate(self, timeout=None):
        return self._out


def _suite_result(bench_isolated, monkeypatch, tmp_path, proc: _FakeProc):
    """Run _run_suite over one fake query backed by `proc`; return the doc."""
    import bench

    monkeypatch.setattr(bench, "HEADLINE", ["fake_q"])
    monkeypatch.setattr(
        bench_isolated.subprocess, "Popen", lambda *a, **k: proc
    )
    out = str(tmp_path / "out.json")
    bench_isolated._run_suite(1, "/nonexistent", out)
    return json.loads(open(out).read())


RESULT_LINE = json.dumps(
    {"query": "fake_q", "cold": 1.0, "warm": [0.5], "warm_median": 0.5}
)


def test_suite_survives_trailing_stdout_noise(
    bench_isolated, monkeypatch, tmp_path
):
    """ADVICE r13: the result line is found by scanning stdout in
    REVERSE for the first warm_median dict — trailing noise (a stray JVM
    shutdown message AFTER the result) must not lose the run."""
    proc = _FakeProc(
        "# progress noise\n"
        + RESULT_LINE
        + "\nWARN ShutdownHookManager: exception caught\n"
    )
    doc = _suite_result(bench_isolated, monkeypatch, tmp_path, proc)
    assert doc["complete"] is True and doc["errors"] == []
    assert doc["queries"]["fake_q"]["warm_median"] == 0.5
    assert doc["total_warm_median"] == 0.5
    # r18: a child that predates the stage channel contributes None —
    # the key must still exist so bench_trend sees a PRESENT channel
    # (partial coverage) rather than 'channel absent'
    assert doc["queries_stage_weather"] == {"fake_q": None}


def test_suite_carries_child_stage_weather(
    bench_isolated, bench_trend, monkeypatch, tmp_path
):
    """r18: each child's own-app stage rollup rides its result line
    into the suite artifact's queries_stage_weather map — the isolated
    series joins the STAGE_FLOOR gate with per-query coverage."""
    line = json.dumps({
        "query": "fake_q", "cold": 1.0, "warm": [0.5], "warm_median": 0.5,
        "stage_weather": {"stages": 4, "run_ms": 800, "cpu_ms": 640,
                          "cpu_over_run": 0.8},
    })
    doc = _suite_result(
        bench_isolated, monkeypatch, tmp_path, _FakeProc(line + "\n")
    )
    assert doc["queries_stage_weather"] == {
        "fake_q": {"stages": 4, "run_ms": 800, "cpu_ms": 640,
                   "cpu_over_run": 0.8},
    }
    # and the map feeds the extraction bench_trend gates on
    assert bench_trend._stage_weather_of(doc) == {
        "range": [(0.8, "fake_q")], "partial": [],
    }


def test_suite_stray_json_is_not_a_result(
    bench_isolated, monkeypatch, tmp_path
):
    """'null', numbers, and dicts missing any of cold/warm/warm_median
    are log noise, not results (review r13/r14 — a warm_median-only dict
    would crash the artifact build's cold/warm projection AFTER every
    query already ran) — even as the only stdout; and a nonzero exit
    demotes a plausible result line to the error map."""
    for proc in (
        _FakeProc("null\n17\n"),
        _FakeProc(json.dumps({"query": "fake_q"}) + "\n"),
        _FakeProc(json.dumps({"query": "fake_q", "warm_median": 0.5}) + "\n"),
        # right keys, non-numeric values: a structured-log lookalike
        # printed AFTER the real result would win the reverse scan and
        # crash the summing doc build — refuse it too (review r14)
        _FakeProc(
            json.dumps(
                {"cold": "n/a", "warm": "n/a", "warm_median": "n/a"}
            )
            + "\n"
        ),
        _FakeProc(RESULT_LINE + "\n", returncode=1),
    ):
        doc = _suite_result(bench_isolated, monkeypatch, tmp_path, proc)
        assert doc["complete"] is False and doc["errors"] == ["fake_q"]
        assert "error" in doc["queries"]["fake_q"]
        assert "warm_median" not in doc["queries"]["fake_q"]
        # a partial run's total covers only the queries that ran
        assert doc["total_warm_median"] == 0


def test_arg_errors_exit_with_usage(bench_isolated, monkeypatch, tmp_path):
    """Every malformed operand refuses via SystemExit with a message —
    non-numeric reps included (ADVICE r13), matching --out and the
    extra-operand guards; none reach query execution."""
    # guaranteed-nonexistent parent via tmp_path, not a hardcoded root
    # path that might exist on some host (review r15 pass 4 — if the
    # open succeeded, main() would fall through into the REAL suite)
    bad_out = str(tmp_path / "no_such_dir" / "a.json")
    cases = [
        (["bench_isolated.py", "--suite", "three"], "reps must be an integer"),
        (["bench_isolated.py", "--suite", "0"], "reps must be >= 1"),
        (["bench_isolated.py", "q", "2", "sf", "extra"], "unexpected extra"),
        (["bench_isolated.py", "q", "--out"], "--out needs a file path"),
        # empty value (unset shell var) refuses instead of falling back
        # to the repo-default artifact path (review r15 pass 5)
        (["bench_isolated.py", "--suite", "--out", ""], "non-empty"),
        # unwritable --out refuses BEFORE any query runs — the artifact
        # is written only after the whole suite, so a typo'd directory
        # would otherwise discard every result at the end (review r15)
        (["bench_isolated.py", "--suite", "--out", bad_out], "not writable"),
        (["bench_isolated.py"], ""),  # bare usage
    ]
    for argv, needle in cases:
        monkeypatch.setattr(bench_isolated.sys, "argv", argv)
        with pytest.raises(SystemExit) as ei:
            bench_isolated.main()
        assert needle in str(ei.value)
    # the writability probe must not leave a spurious empty artifact at
    # a path it created itself: an aborted/crashed run reads as "never
    # ran" (no file), not as a 0-byte artifact (review r15 pass 4).
    # Stub _run_suite so a VALID invocation passes the probe but writes
    # nothing — any leftover file can then only be the probe's.
    ok_out = tmp_path / "fresh.json"
    called = []
    monkeypatch.setattr(bench_isolated, "_run_suite", lambda *a: called.append(a))
    monkeypatch.setattr(
        bench_isolated.sys,
        "argv",
        ["bench_isolated.py", "--suite", "2", "--out", str(ok_out)],
    )
    bench_isolated.main()
    assert called and called[0][2] == str(ok_out)
    assert not ok_out.exists()
    # ...and a pre-existing artifact survives the probe untouched
    prior = tmp_path / "prior.json"
    prior.write_text('{"queries": {}}')
    monkeypatch.setattr(
        bench_isolated.sys,
        "argv",
        ["bench_isolated.py", "--suite", "2", "--out", str(prior)],
    )
    bench_isolated.main()
    assert prior.read_text() == '{"queries": {}}'
    # ...and a DANGLING symlink --out keeps the user's link while the
    # 0-byte file the probe created at the TARGET is removed (review
    # r15 pass 6: otherwise an aborted run leaves an empty artifact at
    # the target instead of "never ran")
    target = tmp_path / "deep" / "r.json"
    target.parent.mkdir()
    link = tmp_path / "link.json"
    link.symlink_to(target)
    monkeypatch.setattr(
        bench_isolated.sys,
        "argv",
        ["bench_isolated.py", "--suite", "2", "--out", str(link)],
    )
    bench_isolated.main()
    assert link.is_symlink() and not target.exists()


def test_trend_drift_rule(bench_trend):
    """The one drift rule both per-query rows and the TOTAL row share:
    ordinary ratios, and the zero-baseline edges (timings round to 3
    decimals, so 0.0 is representable) — unchanged-at-zero is 0%,
    grown-from-zero is inf, never a contradictory row (review r14)."""
    d = bench_trend.drift
    assert d(1.0, 1.5) == 0.5
    assert d(2.0, 1.0) == -0.5
    assert d(0.0, 0.0) == 0.0
    assert d(0.0, 0.1) == float("inf")


def test_trend_arg_errors_exit_with_usage(bench_trend, monkeypatch):
    """--threshold operand errors and a missing operand refuse via
    SystemExit with a message — the bench_isolated arg battery's twin,
    named separately so a parsing regression doesn't report as a drift
    failure (review r14)."""
    for argv, needle in (
        (["bench_trend.py", "a.json", "b.json", "--threshold"], "needs a fraction"),
        (["bench_trend.py", "a.json", "b.json", "--threshold", "wide"], "must be a fraction"),
        (["bench_trend.py", "one.json"], ""),  # usage
    ):
        monkeypatch.setattr(bench_trend.sys, "argv", argv)
        with pytest.raises(SystemExit) as ei:
            bench_trend.main()
        assert needle in str(ei.value)


def test_trend_loads_both_artifact_shapes(bench_trend, tmp_path):
    """load() reads isolated-suite files, raw bench lines, AND the
    driver's BENCH_rNN wrapper (bench line under 'parsed'); error rows
    surface instead of counting as timings."""
    iso = {
        "queries": {
            "a": {"cold": 1.0, "warm": [0.4], "warm_median": 0.4},
            "b": {"error": "boom"},
        },
        "total_warm_median": 0.4,
        "errors": ["b"],
    }
    drv = {"rc": 0, "parsed": {"value": 1.5, "queries": {"a": 0.5, "b": 1.0}}}
    p1, p2 = str(tmp_path / "iso.json"), str(tmp_path / "drv.json")
    open(p1, "w").write(json.dumps(iso))
    open(p2, "w").write(json.dumps(drv))
    qs, total, errs = bench_trend.load(p1)
    assert qs == {"a": 0.4} and total == 0.4 and errs == ["b"]
    qs, total, errs = bench_trend.load(p2)
    assert qs == {"a": 0.5, "b": 1.0} and total == 1.5 and errs == []

    # a FAILED driver run with a stale/partial parsed payload must not
    # diff as healthy: the wrapper's rc surfaces in the errors list
    p4 = str(tmp_path / "failed_drv.json")
    open(p4, "w").write(json.dumps({**drv, "rc": 1}))
    qs, total, errs = bench_trend.load(p4)
    assert qs == {"a": 0.5, "b": 1.0} and errs == ["(driver run exited rc=1)"]

    # not-a-bench-artifact and unreadable files refuse loudly
    p3 = str(tmp_path / "bad.json")
    open(p3, "w").write(json.dumps({"rows": 3}))
    with pytest.raises(SystemExit, match="not a bench artifact"):
        bench_trend.load(p3)
    with pytest.raises(SystemExit, match="cannot read"):
        bench_trend.load(str(tmp_path / "missing.json"))

    # r15 artifacts carry host-weather dicts (host/host_after) beside the
    # timings — load() must ignore them, in both artifact shapes, not
    # mistake their nested floats for queries
    weather = {"metric": "host_probe", "steal_pct": 25.3, "cpu_capped": True}
    p5 = str(tmp_path / "iso_host.json")
    open(p5, "w").write(json.dumps({**iso, "host": weather, "host_after": None}))
    assert bench_trend.load(p5) == ({"a": 0.4}, 0.4, ["b"])
    p6 = str(tmp_path / "drv_host.json")
    open(p6, "w").write(
        json.dumps({"rc": 0, "parsed": {**drv["parsed"], "host": weather}})
    )
    assert bench_trend.load(p6) == ({"a": 0.5, "b": 1.0}, 1.5, [])


def test_trend_diff_output(bench_trend, tmp_path, monkeypatch, capsys):
    """End-to-end diff: shared queries sorted by |drift|, past-band rows
    flagged, one-sided queries reported, totals row present."""
    # a drifts +50% (past band), b -18% (unambiguously inside — NOT a
    # value that lands exactly at the band edge, where which side it
    # falls on would be a float-representation accident; review r14)
    old = {"value": 2.0, "queries": {"a": 1.0, "b": 0.5, "gone": 0.5}}
    new = {"value": 1.9, "queries": {"a": 1.5, "b": 0.41, "fresh": 0.1}}
    p1, p2 = str(tmp_path / "o.json"), str(tmp_path / "n.json")
    open(p1, "w").write(json.dumps(old))
    open(p2, "w").write(json.dumps(new))
    monkeypatch.setattr(
        bench_trend.sys, "argv", ["bench_trend.py", p1, p2]
    )
    bench_trend.main()
    out = capsys.readouterr().out
    lines = out.splitlines()
    # a (+50%) sorts before b (-18%); a flagged slower, b inside the band
    assert lines[1].startswith("a ") and "past band" in lines[1]
    assert lines[2].startswith("b ") and "past band" not in lines[2]
    assert any(line.startswith("TOTAL") and "-0.100" in line for line in lines)
    assert "# only in old: ['gone']" in out
    assert "# only in new: ['fresh']" in out
    assert "1 of 2 shared queries drifted past ±20% (1 slower)" in out


def test_trend_non_numeric_timing_refuses_cleanly(bench_trend, tmp_path):
    """A non-numeric timing (hand-edited or driver-degraded artifact)
    exits via SystemExit naming the file and query — the tool's refusal
    style — never a raw ValueError traceback (ADVICE r14)."""
    cases = [
        # scalar driver-shape value
        {"value": 1.0, "queries": {"a": "n/a"}},
        # isolated-shape warm_median
        {"total_warm_median": 1.0, "queries": {"a": {"warm_median": "n/a"}}},
        # the TOTAL itself
        {"value": "n/a", "queries": {"a": 0.5}},
        # NaN/inf PARSE as floats but poison every later comparison —
        # `nan > threshold` is False, which would silently pass the gate
        {"value": "NaN", "queries": {"a": 0.5}},
        {"value": 1.0, "queries": {"a": "inf"}},
    ]
    for i, doc in enumerate(cases):
        p = str(tmp_path / f"bad{i}.json")
        open(p, "w").write(json.dumps(doc))
        with pytest.raises(SystemExit) as ei:
            bench_trend.load(p)
        msg = str(ei.value)
        assert "non-numeric timing" in msg and p in msg


def test_trend_gate_flag(bench_trend, tmp_path, monkeypatch, capsys):
    """--gate (VERDICT r14 #4): exit 1 on error rows or a TOTAL slower
    past the band; exit 0 (GATE PASS) otherwise. Without --gate the same
    inputs keep the always-0 advisory behavior."""
    ok_old = {"value": 2.0, "queries": {"a": 1.0, "b": 1.0}}
    ok_new = {"value": 2.1, "queries": {"a": 1.1, "b": 1.0}}  # +5% total
    slow_new = {"value": 2.6, "queries": {"a": 1.6, "b": 1.0}}  # +30% total
    err_new = {
        "total_warm_median": 2.0,
        "queries": {"a": {"warm_median": 1.0}, "b": {"error": "boom"}},
        "errors": ["b"],
    }
    paths = {}
    for name, doc in [
        ("ok_old", ok_old), ("ok_new", ok_new),
        ("slow_new", slow_new), ("err_new", err_new),
    ]:
        p = str(tmp_path / f"{name}.json")
        open(p, "w").write(json.dumps(doc))
        paths[name] = p

    def run(old, new, *extra):
        monkeypatch.setattr(
            bench_trend.sys, "argv",
            ["bench_trend.py", paths[old], paths[new], *extra],
        )
        try:
            bench_trend.main()
        except SystemExit as e:
            return e.code
        return 0

    # inside the band, no errors -> PASS
    assert run("ok_old", "ok_new", "--gate") == 0
    assert "# GATE PASS" in capsys.readouterr().out
    # TOTAL slower past band -> FAIL
    assert run("ok_old", "slow_new", "--gate") == 1
    assert "TOTAL slower past band" in capsys.readouterr().out
    # error rows on the new side -> FAIL even with a healthy total
    assert run("ok_old", "err_new", "--gate") == 1
    assert "error rows" in capsys.readouterr().out
    # a FASTER past-band total is advisory, not a failure
    assert run("slow_new", "ok_old", "--gate") == 0
    assert "# GATE PASS" in capsys.readouterr().out
    # default behavior unchanged: same slow input, no --gate, exit 0 and
    # no gate verdict line
    assert run("ok_old", "slow_new") == 0
    assert "GATE" not in capsys.readouterr().out
    # --gate composes with --threshold: +30% passes a 40% band
    assert run("ok_old", "slow_new", "--gate", "--threshold", "0.40") == 0


def test_trend_gate_refuses_partial_runs(bench_trend, tmp_path, monkeypatch, capsys):
    """--gate must not pass a partial/degraded run (review r15): an
    artifact with no TOTAL can't be arbitrated, and queries that
    vanished from the new side deflate its total — both are GATE FAIL,
    while both stay advisory without --gate."""
    old = {"value": 2.0, "queries": {"a": 1.0, "b": 1.0}}
    no_total = {"queries": {"a": 1.0, "b": 1.0}}
    truncated = {"value": 1.0, "queries": {"a": 1.0}}  # b vanished; total "faster"
    paths = {}
    for name, doc in [("old", old), ("no_total", no_total), ("trunc", truncated)]:
        p = str(tmp_path / f"{name}.json")
        open(p, "w").write(json.dumps(doc))
        paths[name] = p

    def run(old_k, new_k, *extra):
        monkeypatch.setattr(
            bench_trend.sys, "argv",
            ["bench_trend.py", paths[old_k], paths[new_k], *extra],
        )
        try:
            bench_trend.main()
        except SystemExit as e:
            return e.code
        return 0

    assert run("old", "no_total", "--gate") == 1
    assert "gate cannot arbitrate" in capsys.readouterr().out
    assert run("old", "trunc", "--gate") == 1
    assert "queries vanished from new: ['b']" in capsys.readouterr().out
    # without --gate both remain advisory exits 0
    assert run("old", "no_total") == 0
    assert run("old", "trunc") == 0


def test_trend_weather_flag(bench_trend, tmp_path, monkeypatch, capsys):
    """--weather (VERDICT r15 #3): judge both artifacts' embedded host
    probes against host_probe's envelope. Alone it annotates (exit 0);
    with --gate an out-of-envelope or probe-less side is a GATE FAIL —
    weather-tainted timings can never silently win an arbitration.
    Without --weather, gate behavior on the same artifacts is unchanged
    (back-compat: the r13/r14 artifacts predate the probes)."""
    healthy = {
        "first_touch_gb_s": 5.0, "steal_pct": 0.2, "cpu_parallel_scale": 20.0,
    }
    stalled = {
        "first_touch_gb_s": 0.2, "steal_pct": 0.1, "cpu_parallel_scale": 21.0,
    }
    base = {
        "value": 2.0, "queries": {"a": 2.0},
        "queries_warm": {"a": [2.0, 2.1, 1.9]},  # tight spread: in band
    }
    docs = {
        "clean": {**base, "host": healthy, "host_after": healthy},
        "tainted": {**base, "host": healthy, "host_after": stalled},
        "probeless": base,  # a pre-r15 artifact: no host keys at all
        # driver wrapper shape: probes live inside "parsed"
        "wrapped": {"rc": 0, "parsed": {
            **base, "host": healthy, "host_after": healthy,
        }},
    }
    paths = {}
    for name, doc in docs.items():
        p = str(tmp_path / f"{name}.json")
        open(p, "w").write(json.dumps(doc))
        paths[name] = p

    def run(old_k, new_k, *extra):
        monkeypatch.setattr(
            bench_trend.sys, "argv",
            ["bench_trend.py", paths[old_k], paths[new_k], *extra],
        )
        try:
            bench_trend.main()
        except SystemExit as e:
            return e.code
        return 0

    # both sides clean: annotations + GATE PASS
    assert run("clean", "wrapped", "--weather", "--gate") == 0
    out = capsys.readouterr().out
    assert out.count("in envelope") == 4 and "# GATE PASS" in out
    assert out.count("warm spreads in band") == 2
    # a stalled after-probe on the new side fails the gate, naming it
    assert run("clean", "tainted", "--weather", "--gate") == 1
    out = capsys.readouterr().out
    assert "new/host_after" in out and "first_touch_gb_s" in out
    assert "weather outside envelope" in out
    # probe-less artifacts cannot prove their weather -> FAIL under the
    # combined gate, never a silent pass-by-omission
    assert run("clean", "probeless", "--weather", "--gate") == 1
    assert "no host probe embedded" in capsys.readouterr().out
    # --weather alone is advisory: annotates, exit 0
    assert run("clean", "tainted", "--weather") == 0
    out = capsys.readouterr().out
    assert "OUTSIDE envelope" in out and "weather advisory" in out
    # --gate without --weather keeps its r14 contract on the same inputs
    assert run("clean", "tainted", "--gate") == 0
    assert "# GATE PASS" in capsys.readouterr().out


def _ab_tree(tmp_path, name):
    """A minimal 'bench-capable tree' for bench_ab's root validation.
    Idempotent: a test may drive several _ab_run ladders on one
    tmp_path."""
    root = tmp_path / name
    (root / "tools").mkdir(parents=True, exist_ok=True)
    (root / "tools" / "bench_isolated.py").write_text("# stub\n")
    return str(root)


def _ab_run(bench_ab, monkeypatch, tmp_path, side_results, queries="q"):
    """Drive bench_ab.main() with doubles for every subprocess seam:
    the shared run_child pops canned results per (side) call order,
    bench.host_condition returns a healthy envelope dict,
    _registry_names knows only 'q'. Returns the artifact doc."""
    healthy = {
        "first_touch_gb_s": 5.0, "steal_pct": 0.2,
        "cpu_parallel_scale": 20.0,
    }
    calls = {"old": 0, "new": 0}

    def fake_run_child(root, query, reps, sf_dir, tmo):
        side = "old" if root.endswith("old") else "new"
        res = side_results[side][calls[side]]
        calls[side] += 1
        return dict(res)

    monkeypatch.setattr(bench_ab._bi, "run_child", fake_run_child)
    monkeypatch.setattr(bench_ab.bench, "host_condition", lambda: dict(healthy))
    monkeypatch.setattr(bench_ab, "_registry_names", lambda root: {"q"})
    monkeypatch.setattr(bench_ab, "_git_sha", lambda root: "stub-sha")
    out = str(tmp_path / "ab.json")
    monkeypatch.setattr(bench_ab.sys, "argv", [
        "bench_ab.py", _ab_tree(tmp_path, "old"), _ab_tree(tmp_path, "new"),
        "--queries", queries, "--reps", "2", "--out", out,
    ])
    bench_ab.main()
    return json.loads(open(out).read())


OK_RUN = {"query": "q", "cold": 1.0, "warm": [0.5, 0.6], "warm_median": 0.5}


def test_ab_full_ladder_reports_drift(bench_ab, monkeypatch, tmp_path):
    """The clean path: four ok runs → pooled medians + drift, weather
    certified by the probe doubles."""
    doc = _ab_run(bench_ab, monkeypatch, tmp_path, {
        "old": [dict(OK_RUN), dict(OK_RUN)],
        "new": [
            {**OK_RUN, "warm": [0.6, 0.7]},
            {**OK_RUN, "warm": [0.6, 0.7]},
        ],
    })
    row = doc["queries"]["q"]
    assert row["old_median"] == 0.6 and row["new_median"] == 0.7
    assert row["drift"] == round((0.7 - 0.6) / 0.6, 4)
    assert doc["weather_ok"] is True
    assert doc["old_sha"] == "stub-sha"


def test_ab_incomplete_ladder_withholds_drift(bench_ab, monkeypatch, tmp_path):
    """Review r18 pass 2: a lost ladder slot breaks the A-B-B-A
    cancellation — the surviving runs of that side sample a different
    part of the window, re-acquiring the environmental bias the ladder
    cancels — so the row declares itself and carries NO drift verdict."""
    doc = _ab_run(bench_ab, monkeypatch, tmp_path, {
        "old": [dict(OK_RUN), {"error": "timeout after 600s"}],
        "new": [dict(OK_RUN), dict(OK_RUN)],
    })
    row = doc["queries"]["q"]
    assert "incomplete ladder" in row["error"] and "old#1" in row["error"]
    assert "drift" not in row and "old_median" not in row


def test_ab_unpoolable_side_is_an_error_row(bench_ab, monkeypatch, tmp_path):
    """Review r18 pass 3: parse_result_line only requires `warm` to BE
    a list — a side whose warm entries are non-numeric pools to None
    and must land as an error row, not a TypeError that loses the
    artifact at the end of a multi-hour run (the pass-2 rework dropped
    this guard)."""
    bad = {**OK_RUN, "warm": ["n/a", "n/a"]}
    doc = _ab_run(bench_ab, monkeypatch, tmp_path, {
        "old": [dict(bad), dict(bad)],
        "new": [dict(OK_RUN), dict(OK_RUN)],
    })
    row = doc["queries"]["q"]
    assert row["error"] == "a side produced no poolable warm samples"
    assert "drift" not in row


def test_ab_records_stage_floor_and_collapse(bench_ab, monkeypatch, tmp_path):
    """r18: children embed their own app's stage rollup, so the ladder
    self-certifies in-run window quality — the row records the min
    floor across runs and NAMES collapsed runs (below STAGE_FLOOR)
    without withholding drift (both sides share the weather under
    alternation; a collapse is annotated, not fatal)."""
    sw_ok = {"stages": 4, "run_ms": 100, "cpu_ms": 80, "cpu_over_run": 0.8}
    sw_bad = {"stages": 4, "run_ms": 100, "cpu_ms": 15, "cpu_over_run": 0.15}
    doc = _ab_run(bench_ab, monkeypatch, tmp_path, {
        "old": [dict(OK_RUN), dict(OK_RUN)],  # old tree: no channel
        "new": [
            {**OK_RUN, "stage_weather": dict(sw_ok)},
            {**OK_RUN, "stage_weather": dict(sw_bad)},
        ],
    })
    row = doc["queries"]["q"]
    assert row["stage_floor"] == 0.15
    assert row["window_collapse"] == ["new#1"]
    assert "drift" in row  # annotated, not withheld
    # all-clean floors: recorded, no collapse key
    doc = _ab_run(bench_ab, monkeypatch, tmp_path, {
        "old": [dict(OK_RUN), dict(OK_RUN)],
        "new": [
            {**OK_RUN, "stage_weather": dict(sw_ok)},
            {**OK_RUN, "stage_weather": dict(sw_ok)},
        ],
    })
    row = doc["queries"]["q"]
    assert row["stage_floor"] == 0.8 and "window_collapse" not in row
    # no channel anywhere (two pre-r18 trees): no floor keys at all
    doc = _ab_run(bench_ab, monkeypatch, tmp_path, {
        "old": [dict(OK_RUN), dict(OK_RUN)],
        "new": [dict(OK_RUN), dict(OK_RUN)],
    })
    assert "stage_floor" not in doc["queries"]["q"]
    assert "stage_partial" not in doc["queries"]["q"]
    # review r18 pass 4: a run CARRYING the key but proving nothing —
    # None rollup (fetch died), partial coverage, poisoned bool/NaN
    # ratio — is DECLARED in stage_partial, never silently dropped (a
    # collapse's own lagging stage is the likeliest partial source);
    # poisoned ratios never feed the floor math or mint a collapse
    doc = _ab_run(bench_ab, monkeypatch, tmp_path, {
        "old": [dict(OK_RUN), dict(OK_RUN)],
        "new": [
            {**OK_RUN, "stage_weather": None},
            {**OK_RUN, "stage_weather": {
                "cpu_over_run": 0.12, "incomplete": 1}},
        ],
    })
    row = doc["queries"]["q"]
    assert row["stage_partial"] == ["new#0", "new#1"]
    assert "stage_floor" not in row and "window_collapse" not in row
    doc = _ab_run(bench_ab, monkeypatch, tmp_path, {
        "old": [dict(OK_RUN), dict(OK_RUN)],
        "new": [
            {**OK_RUN, "stage_weather": {"cpu_over_run": False}},
            {**OK_RUN, "stage_weather": {"cpu_over_run": float("nan")}},
        ],
    })
    row = doc["queries"]["q"]
    assert row["stage_partial"] == ["new#0", "new#1"]
    assert "stage_floor" not in row and "window_collapse" not in row


def test_ab_unknown_query_refuses_before_any_run(
    bench_ab, monkeypatch, tmp_path
):
    """Review r18 pass 2: a typo'd name refuses via the no-Spark
    registry probe BEFORE any multi-minute ladder, naming the side."""
    ran = []
    monkeypatch.setattr(
        bench_ab._bi, "run_child",
        lambda *a, **k: ran.append(a) or dict(OK_RUN),
    )
    monkeypatch.setattr(bench_ab, "_registry_names", lambda root: {"q"})
    monkeypatch.setattr(bench_ab.sys, "argv", [
        "bench_ab.py", _ab_tree(tmp_path, "old"), _ab_tree(tmp_path, "new"),
        "--queries", "q,typo_q", "--out", str(tmp_path / "ab.json"),
    ])
    with pytest.raises(SystemExit) as e:
        bench_ab.main()
    assert "unknown queries" in str(e.value) and "typo_q" in str(e.value)
    assert ran == []  # refused before any ladder run


def test_ab_duplicate_query_refuses(bench_ab, monkeypatch, tmp_path):
    """A repeated --queries name would merge two ladders into one row;
    the shared query_list helper refuses it before any run."""
    ran = []
    monkeypatch.setattr(
        bench_ab._bi, "run_child", lambda *a, **k: ran.append(a) or dict(OK_RUN)
    )
    monkeypatch.setattr(bench_ab.sys, "argv", [
        "bench_ab.py", _ab_tree(tmp_path, "old"), _ab_tree(tmp_path, "new"),
        "--queries", "q,q", "--out", str(tmp_path / "ab.json"),
    ])
    with pytest.raises(SystemExit) as e:
        bench_ab.main()
    assert "more than once" in str(e.value) and "'q'" in str(e.value)
    assert ran == []


def test_ab_pooled_median(bench_ab):
    """Pooling is over the warm reps of a side's runs; error dicts and
    non-numeric/bool entries are ignored; nothing poolable -> None."""
    pm = bench_ab._pooled_median
    assert pm([{"warm": [3.0, 1.0]}, {"warm": [2.0]}]) == 2.0
    assert pm([{"warm": [1.0, True, "x"]}, {"error": "boom"}]) == 1.0
    assert pm([{"error": "boom"}]) is None
    assert pm([{"warm": []}]) is None


def test_query_timeout_contract(bench_isolated, monkeypatch):
    """The shared reps-scaled allowance (review r18 pass 2 factored it
    out of _run_suite for bench_ab): default scales with reps, the env
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


def test_parse_result_line_contract(bench_isolated):
    """The shared acceptance predicate (one copy since review r18
    pass 2): reverse scan, numeric projection keys required, noise and
    lookalikes rejected."""
    f = bench_isolated.parse_result_line
    parsed, line = f("# noise\n" + RESULT_LINE + "\ntrailing junk\n")
    assert parsed["warm_median"] == 0.5 and line == RESULT_LINE
    assert f("") == (None, "")
    assert f("null\n17\n") == (None, "")
    assert f(json.dumps({"warm_median": 0.5})) == (None, "")
    assert f(
        json.dumps({"cold": "n/a", "warm": "n/a", "warm_median": "n/a"})
    ) == (None, "")


def test_trend_stage_floor_gates(bench_trend, tmp_path, monkeypatch, capsys):
    """r18 (VERDICT r17 #2): the in-run stage channel is fail-closed —
    a present channel whose full-coverage cpu_over_run floor sits below
    STAGE_FLOOR taints the side; channel ABSENCE stays advisory (the
    isolated arbiter series structurally carries none); present-but-
    all-partial is a degraded measurement and fails like a missing
    probe."""
    healthy = {
        "first_touch_gb_s": 5.0, "steal_pct": 0.2, "cpu_parallel_scale": 20.0,
    }
    base = {
        "value": 2.0, "queries": {"a": 2.0},
        "queries_warm": {"a": [2.0, 2.1, 1.9]},
        "host": healthy, "host_after": healthy,
    }
    docs = {
        "absent": base,  # no stage channel at all: advisory, passes
        "clean": {**base, "queries_stage_weather": {
            "a": {"stages": 3, "run_ms": 1000, "cpu_ms": 600,
                  "cpu_over_run": 0.6},
        }},
        "collapsed": {**base, "queries_stage_weather": {
            "a": {"stages": 3, "run_ms": 1000, "cpu_ms": 151,
                  "cpu_over_run": 0.151},
        }},
        "all_partial": {**base, "queries_stage_weather": {
            "a": {"stages": 1, "run_ms": 100, "cpu_ms": 90,
                  "cpu_over_run": 0.9, "incomplete": 2},
        }},
        # the REST fetch failed mid-collapse: key present, all-None
        # rollups — must fail closed, NOT read as 'channel absent'
        # (review r18 pass 1's fail-open shape)
        "fetch_failed": {**base, "queries_stage_weather": {"a": None}},
    }
    paths = {}
    for name, doc in docs.items():
        p = str(tmp_path / f"{name}.json")
        open(p, "w").write(json.dumps(doc))
        paths[name] = p

    def run(old_k, new_k, *extra):
        monkeypatch.setattr(
            bench_trend.sys, "argv",
            ["bench_trend.py", paths[old_k], paths[new_k], *extra],
        )
        try:
            bench_trend.main()
        except SystemExit as e:
            return e.code
        return 0

    # clean channel on both sides: floor annotated, GATE PASS
    assert run("clean", "clean", "--weather", "--gate") == 0
    out = capsys.readouterr().out
    assert out.count("floor >= 0.3") == 2 and "# GATE PASS" in out
    # absent channel: advisory note, still GATE PASS
    assert run("clean", "absent", "--weather", "--gate") == 0
    out = capsys.readouterr().out
    assert "channel absent" in out and "# GATE PASS" in out
    # below-floor side fails the gate, naming side, query and floor
    assert run("clean", "collapsed", "--weather", "--gate") == 1
    out = capsys.readouterr().out
    assert "new/stage: cpu_over_run floor 0.151 (a) below 0.3" in out
    assert "in-run collapse" in out and "# GATE FAIL" in out
    # present-but-all-partial: unmeasurable, fails closed
    assert run("all_partial", "clean", "--weather", "--gate") == 1
    out = capsys.readouterr().out
    assert "no full-coverage rollups" in out and "# GATE FAIL" in out
    # key present with all-None rollups (REST fetch died mid-collapse):
    # fails closed too — never 'channel absent'
    assert run("clean", "fetch_failed", "--weather", "--gate") == 1
    out = capsys.readouterr().out
    assert "no full-coverage rollups" in out and "# GATE FAIL" in out
    assert "channel absent" not in out
    # --weather alone stays advisory (exit 0) even below floor
    assert run("clean", "collapsed", "--weather") == 0
    assert "below 0.3" in capsys.readouterr().out


def test_trend_stage_floor_calibration_fixtures(bench_trend):
    """The committed r17 anchors pin the floor's separation: clean
    gated windows (BENCH_SHARED_r17d/e, the r17 driver sidecar) sit
    ABOVE STAGE_FLOOR; the r17f mid-run collapse sits BELOW — the
    VERDICT r17 #2 done-criterion fixtures, read from the real
    artifacts so a drive-by re-calibration of STAGE_FLOOR that breaks
    the separation fails here."""
    import json as _json
    import os as _os

    root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))

    def floor_of(name):
        doc = _json.load(open(_os.path.join(root, name)))
        sw = bench_trend._stage_weather_of(doc)
        assert sw and sw["range"], f"{name} lost its stage channel"
        return sw["range"][0][0]

    assert floor_of("BENCH_SHARED_r17d.json") == 0.625 > bench_trend.STAGE_FLOOR
    assert floor_of("BENCH_SHARED_r17e.json") == 0.5 > bench_trend.STAGE_FLOOR
    assert floor_of("BENCH_SHARED_r17f.json") == 0.151 < bench_trend.STAGE_FLOOR


def test_trend_load_weather_shapes(bench_trend, tmp_path):
    """load_weather mirrors load()'s wrapper handling and degrades to
    None values on pre-r15 artifacts instead of raising."""
    p = str(tmp_path / "a.json")
    open(p, "w").write(json.dumps({
        "value": 1.0, "queries": {},
        "host": {"steal_pct": 1.0}, "host_after": None,
    }))
    assert bench_trend.load_weather(p) == {
        "host": {"steal_pct": 1.0}, "host_after": None,
    }
    p2 = str(tmp_path / "b.json")
    open(p2, "w").write(json.dumps(
        {"rc": 0, "parsed": {"queries": {}, "host_after": {"x": 1}}}
    ))
    assert bench_trend.load_weather(p2) == {
        "host": None, "host_after": {"x": 1},
    }
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        bench_trend.load_weather(str(tmp_path / "missing.json"))


def test_trend_dispersion_verdict(bench_trend, tmp_path, monkeypatch, capsys):
    """Intra-run warm dispersion (r16): the bracketing probes are ~3 s
    snapshots — a mid-run stall hides between them (seen live: an
    isolated suite at +142% vs the band with BOTH probes in envelope,
    dsir warm runs 13.98/12.39/5.56 s). The warm-run lists inside the
    artifact record the run itself: >=2 queries past 1.6x spread, or
    any single one past 2.0x, taints the side; missing warm lists fail
    closed like a missing probe."""
    healthy = {
        "first_touch_gb_s": 5.0, "steal_pct": 0.2, "cpu_parallel_scale": 20.0,
    }
    probes = {"host": healthy, "host_after": healthy}
    tight = {
        "value": 2.0, "queries": {"a": 1.0, "b": 1.0},
        "queries_warm": {"a": [1.0, 1.1, 0.9], "b": [1.0, 1.0, 1.3]},
        **probes,
    }
    # one hard outlier (2.5x) — tainted even though the other is tight
    hard = {
        **tight,
        "queries_warm": {"a": [1.0, 2.5, 1.2], "b": [1.0, 1.0, 1.1]},
    }
    # two soft outliers (1.7x each) — tainted by count
    soft2 = {
        **tight,
        "queries_warm": {"a": [1.0, 1.7], "b": [1.0, 1.7]},
    }
    # ONE soft outlier is tolerated (a single GC hiccup is not weather)
    soft1 = {
        **tight,
        "queries_warm": {"a": [1.0, 1.7], "b": [1.0, 1.1]},
    }
    # isolated-suite shape: warm lists live inside the query rows
    iso_bad = {
        "total_warm_median": 2.0,
        "queries": {
            "a": {"warm_median": 1.0, "warm": [1.0, 2.6, 1.1]},
            "b": {"warm_median": 1.0, "warm": [1.0, 1.0]},
        },
        **probes,
    }
    nolists = {"value": 2.0, "queries": {"a": 1.0, "b": 1.0}, **probes}
    paths = {}
    for name, doc in [("tight", tight), ("hard", hard), ("soft2", soft2),
                      ("soft1", soft1), ("iso_bad", iso_bad),
                      ("nolists", nolists)]:
        p = str(tmp_path / f"{name}.json")
        open(p, "w").write(json.dumps(doc))
        paths[name] = p

    def run(old_k, new_k, *extra):
        monkeypatch.setattr(
            bench_trend.sys, "argv",
            ["bench_trend.py", paths[old_k], paths[new_k], *extra],
        )
        try:
            bench_trend.main()
        except SystemExit as e:
            return e.code
        return 0

    assert run("tight", "soft1", "--weather", "--gate") == 0
    assert "# GATE PASS" in capsys.readouterr().out
    for bad in ("hard", "soft2", "iso_bad"):
        assert run("tight", bad, "--weather", "--gate") == 1, bad
        out = capsys.readouterr().out
        assert "mid-run weather: warm-run spread" in out, bad
    assert run("tight", "nolists", "--weather", "--gate") == 1
    assert "dispersion unmeasurable" in capsys.readouterr().out
    # advisory mode annotates the same verdicts at exit 0
    assert run("tight", "hard", "--weather") == 0
    out = capsys.readouterr().out
    assert "new/dispersion: mid-run weather" in out


def test_trend_dispersion_verdict_unit(bench_trend, tmp_path):
    ok, why = bench_trend.dispersion_verdict(_write(
        tmp_path, "u1.json",
        {"queries": {}, "queries_warm": {"a": [1.0, 1.5, 1.2]}},
    ))
    assert ok and why == []
    # exactly-at-threshold spreads do not taint (strict >)
    ok, _ = bench_trend.dispersion_verdict(_write(
        tmp_path, "u2.json",
        {"queries": {}, "queries_warm": {
            "a": [1.0, bench_trend.DISPERSION_SPREAD],
            "b": [1.0, bench_trend.DISPERSION_SPREAD],
        }},
    ))
    assert ok
    # zero/one-element warm lists are skipped, not crashed on
    ok, why = bench_trend.dispersion_verdict(_write(
        tmp_path, "u3.json",
        {"queries": {}, "queries_warm": {"a": [0.0, 1.0], "b": [1.0]}},
    ))
    assert not ok and "unmeasurable" in why[0]


def _write(tmp_path, name, doc):
    p = str(tmp_path / name)
    open(p, "w").write(json.dumps(doc))
    return p


def test_trend_dispersion_rejects_poisoned_warm_lists(bench_trend, tmp_path):
    """Corrupt warm entries must not crash (mixed types in max/min) or
    silently pass (NaN compares False vs every threshold): any list with
    a non-numeric, non-finite, or non-positive entry yields no spread —
    and an artifact left with NO usable lists is unmeasurable."""
    ok, why = bench_trend.dispersion_verdict(_write(
        tmp_path, "p1.json",
        {"queries": {}, "queries_warm": {
            "a": [1.0, "n/a"],          # mixed types: skipped, not crashed
            "b": [1.0, float("nan")],   # NaN: skipped, not silently ok
            "c": [1.0, True],           # bool is not a timing
        }},
    ))
    assert not ok and "unmeasurable" in why[0]
    # a TIMED query with a poisoned list is uncovered — the artifact
    # cannot prove that query's mid-run weather, so it fails even with
    # a healthy sibling (review r16 pass 5: 1-of-18 provable must not
    # pass by omission)
    ok, why = bench_trend.dispersion_verdict(_write(
        tmp_path, "p2.json",
        {"queries": {"a": 1.0, "b": 1.0}, "queries_warm": {
            "a": [1.0, "n/a"], "b": [1.0, 1.1, 0.9],
        }},
    ))
    assert not ok and any("unmeasurable for 1 timed" in r for r in why)
    # ...but warm lists for names OUTSIDE the timing map are extra
    # data, not coverage — a poisoned extra doesn't taint
    ok, why = bench_trend.dispersion_verdict(_write(
        tmp_path, "p3.json",
        {"queries": {"b": 1.0}, "queries_warm": {
            "a": [1.0, "n/a"], "b": [1.0, 1.1, 0.9],
        }},
    ))
    assert ok and why == []


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


def test_wait_for_healthy_window_bounded(monkeypatch):
    """The pre-bench weather poll (VERDICT r16 #3): stops at the first
    in-envelope probe; a host that never enters the envelope exhausts
    the bounded tries and the bench proceeds with the degraded probe
    (the wait log proving no window opened)."""
    import bench

    probes = iter([{"h": 1}, {"h": 2}, {"h": 3}])
    monkeypatch.setattr(bench, "host_condition", lambda: next(probes))
    verdicts = iter([(False, ["steal"]), (True, []), (True, [])])
    monkeypatch.setattr(bench, "_weather_verdict", lambda h: next(verdicts))
    slept = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))
    monkeypatch.setenv("SPARK_GRAFT_WEATHER_TRIES", "5")
    monkeypatch.setenv("SPARK_GRAFT_WEATHER_WAIT_S", "0.01")
    host, log = bench.wait_for_healthy_window()
    assert host == {"h": 2}  # stopped at the first passing probe
    assert [a["ok"] for a in log] == [False, True]
    assert slept == [0.01]  # one wait between try 1 and try 2

    # never-healthy host: all tries consumed, last probe returned
    probes = iter([{"h": i} for i in range(3)])
    monkeypatch.setattr(bench, "host_condition", lambda: next(probes))
    monkeypatch.setattr(
        bench, "_weather_verdict", lambda h: (False, ["capped"])
    )
    monkeypatch.setenv("SPARK_GRAFT_WEATHER_TRIES", "3")
    slept.clear()
    host, log = bench.wait_for_healthy_window()
    assert host == {"h": 2} and len(log) == 3
    assert all(not a["ok"] for a in log)
    assert len(slept) == 2  # no sleep after the final try


def test_weather_wait_env_falls_back_to_caller_default(monkeypatch, capsys):
    """A malformed, non-finite or negative $SPARK_GRAFT_WEATHER_TRIES or
    $SPARK_GRAFT_WEATHER_WAIT_S falls back to the CALLER's default with a
    stderr note naming the variable — time.sleep raises on NaN and on
    negative seconds, which used to kill bench.py before its one stdout
    line printed."""
    import bench

    monkeypatch.setattr(bench, "host_condition", lambda: {"h": 1})
    monkeypatch.setattr(bench, "_weather_verdict", lambda h: (False, ["steal"]))
    slept = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))
    for bad in ("abc", "nan", "-5"):
        monkeypatch.setenv("SPARK_GRAFT_WEATHER_TRIES", bad)
        monkeypatch.setenv("SPARK_GRAFT_WEATHER_WAIT_S", bad)
        for tries, wait_s in ((10, 75.0), (60, 20.0)):  # bench.py, gated
            slept.clear()
            _, log = bench.wait_for_healthy_window(tries, wait_s)
            assert len(log) == tries and slept == [wait_s] * (tries - 1)
            err = capsys.readouterr().err
            assert "SPARK_GRAFT_WEATHER_TRIES" in err
            assert "SPARK_GRAFT_WEATHER_WAIT_S" in err


def test_out_probe_unlink_failure_names_stranded_file(
    bench_isolated, monkeypatch, tmp_path
):
    """ADVICE r16: O_EXCL create succeeds but the cleanup unlink fails
    (exotic: dir flipped immutable/sticky between the calls) — the old
    path exited 'not writable' while silently stranding the 0-byte probe
    artifact, the exact spurious file the probe exists to prevent. The
    refusal must NAME the leftover so the operator knows it's there."""
    out = tmp_path / "r.json"

    def stuck_unlink(path):
        raise PermissionError(1, "Operation not permitted", str(path))

    monkeypatch.setattr(bench_isolated.os, "unlink", stuck_unlink)
    monkeypatch.setattr(
        bench_isolated.sys,
        "argv",
        ["bench_isolated.py", "--suite", "2", "--out", str(out)],
    )
    with pytest.raises(SystemExit) as ei:
        bench_isolated.main()
    msg = str(ei.value)
    assert str(out) in msg and "could not remove" in msg and "remains" in msg
    assert "not writable" not in msg  # the path IS writable — say what happened
    assert out.exists() and out.stat().st_size == 0  # the named leftover


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


def test_wait_for_healthy_window_bails_on_absent_probe(monkeypatch):
    """Review r17 x2: TWO consecutive probe failures read 'absent on
    this box' and bail (host_condition's contract: a probe failure
    never delays a bench past ~10 s), but ONE failure is retried
    quickly — a transient hiccup must not skip a wait that 75 s would
    have cleared. A verdict whose every failing key is UNMEASURABLE
    (no /proc/stat) also bails: polling cannot materialize a counter."""
    import bench

    # permanently absent: bail after 2 tries with one short retry sleep
    monkeypatch.setattr(bench, "host_condition", lambda: None)
    slept = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))
    monkeypatch.setenv("SPARK_GRAFT_WEATHER_TRIES", "10")
    # pin WAIT_S too: the quick-retry sleep is min(wait_s, 5.0), so an
    # ambient SPARK_GRAFT_WEATHER_WAIT_S export (the verify skill
    # recommends 0.01 for plumbing runs) would change the asserted
    # value (review r17 pass 3)
    monkeypatch.setenv("SPARK_GRAFT_WEATHER_WAIT_S", "75")
    host, log = bench.wait_for_healthy_window()
    assert host is None and len(log) == 2
    assert slept == [5.0]  # quick retry, not a 75 s wait slot

    # transient: one None then a healthy probe -> recovered, no bail
    probes = iter([None, {"h": 1}])
    monkeypatch.setattr(bench, "host_condition", lambda: next(probes))
    verdicts = iter([(False, ["no host probe embedded"]), (True, [])])
    monkeypatch.setattr(bench, "_weather_verdict", lambda h: next(verdicts))
    slept.clear()
    host, log = bench.wait_for_healthy_window()
    assert host == {"h": 1} and [a["ok"] for a in log] == [False, True]
    assert slept == [5.0]

    # all failing keys unmeasurable -> bail immediately (platform limit)
    monkeypatch.setattr(bench, "host_condition", lambda: {"partial": 1})
    monkeypatch.setattr(
        bench, "_weather_verdict",
        lambda h: (False, ["steal_pct unmeasured (None)"]),
    )
    slept.clear()
    host, log = bench.wait_for_healthy_window()
    assert len(log) == 1 and slept == []

    # a MIX of unmeasured and measured-bad keeps polling (bounded)
    monkeypatch.setattr(
        bench, "_weather_verdict",
        lambda h: (False, ["steal_pct unmeasured (None)",
                           "cpu_parallel_scale 2.0 < 7.0"]),
    )
    monkeypatch.setenv("SPARK_GRAFT_WEATHER_TRIES", "3")
    monkeypatch.setenv("SPARK_GRAFT_WEATHER_WAIT_S", "0.01")
    slept.clear()
    host, log = bench.wait_for_healthy_window()
    assert len(log) == 3 and slept == [0.01, 0.01]

    # TRIES=1 + absent probe: no retry can follow, so no quick-retry
    # sleep either — 'Set TRIES=1 to skip waiting' stays literally true
    # (review r17 pass 3)
    monkeypatch.setattr(bench, "host_condition", lambda: None)
    monkeypatch.setattr(
        bench, "_weather_verdict",
        lambda h: (False, ["no host probe embedded"]),
    )
    monkeypatch.setenv("SPARK_GRAFT_WEATHER_TRIES", "1")
    slept.clear()
    host, log = bench.wait_for_healthy_window()
    assert host is None and len(log) == 1 and slept == []


def test_stage_weather_advisory_extraction(bench_trend):
    """_stage_weather_of: sorted (ratio, query) pairs from the r17
    in-run channel. None ONLY when the channel KEY is absent (pre-r17
    and isolated artifacts). A present key — empty map, non-dict
    value, all-None rollups — always yields a dict so the STAGE_FLOOR
    gate can fail closed on a channel that exists but proves nothing
    (review r18 pass 1: a mid-collapse REST timeout writes {q: None,
    ...}, which previously read as 'channel absent' and passed the
    gate by omission). Poisoned per-query rollups (None, bool, NaN,
    missing key) land in `partial`, never in the range."""
    f = bench_trend._stage_weather_of
    assert f({"queries": {}}) is None  # pre-channel artifact: no key
    assert f("not-a-dict") is None
    # key PRESENT but proving nothing: a dict, never None (fail-closed
    # shapes for the gate)
    assert f({"queries_stage_weather": {}}) == {"range": [], "partial": []}
    assert f({"queries_stage_weather": "garbled"}) == {
        "range": [], "partial": [],
    }
    assert f({"queries_stage_weather": {
        "a": None,                                  # rollup degraded
        "b": {"cpu_over_run": True},                # bool poisoning
        "c": {"cpu_over_run": float("nan")},        # NaN poisoning
        "d": {"run_ms": 5},                         # key missing
    }}) == {"range": [], "partial": ["a", "b", "c", "d"]}
    got = f({"queries_stage_weather": {
        "slow": {"cpu_over_run": 0.133},
        "fast": {"cpu_over_run": 0.988},
        "mid": {"cpu_over_run": 0.7},
        "bad": None,
        # partial coverage (stages still ACTIVE at fetch): its subset
        # ratio must NOT enter the range — named instead (review r17
        # pass 7), so the gating floor can't be judged on a fraction
        # of a query's stages
        "lagged": {"cpu_over_run": 0.95, "incomplete": 2},
        # the zero-coverage shape (all stages still active)
        "zero": {"incomplete": 3},
    }})
    assert got == {
        "range": [(0.133, "slow"), (0.7, "mid"), (0.988, "fast")],
        "partial": ["bad", "lagged", "zero"],
    }
    # partial-only artifacts still report (range empty, names carried)
    got = f({"queries_stage_weather": {"z": {"incomplete": 1}}})
    assert got == {"range": [], "partial": ["z"]}


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


# --- bench_gated_series: the healthy-window acceptance predicate ----------


@pytest.fixture(scope="module")
def bench_gated():
    return _load_tool("bench_gated_series")


def _gated_doc(bench_gated, monkeypatch, probes, child_results):
    """Drive run_series over one query with scripted probe verdicts and
    child results. `probes` feeds (window-opened, closing-probe-ok)
    pairs per attempt to the shared bench.wait_for_healthy_window and
    bench._weather_verdict seams; `child_results` one dict per attempt
    to the shared run_child."""
    seq = {"i": -1}

    def fake_wait(tries, wait_s):
        assert (tries, wait_s) == (60, 20.0)  # the gated series' defaults
        seq["i"] += 1
        before_ok = probes[seq["i"]][0]
        reasons = [] if before_ok else ["steal_pct 30 > 5.0"]
        return (
            {"fake": "probe"} if before_ok else None,
            [{"try": 1, "ok": before_ok, "reasons": reasons}],
        )

    def fake_child(root, q, reps, sf_dir, tmo):
        return child_results[seq["i"]]

    def fake_probe():
        return {"fake": "after_probe"}

    def fake_weather(p):
        after_ok = probes[seq["i"]][1]
        return (after_ok, [] if after_ok else ["steal_pct 20 > 5.0"])

    monkeypatch.setattr(bench_gated.bench, "wait_for_healthy_window", fake_wait)
    monkeypatch.setattr(bench_gated._bi, "run_child", fake_child)
    monkeypatch.setattr(bench_gated.bench, "host_condition", fake_probe)
    monkeypatch.setattr(bench_gated.bench, "_weather_verdict", fake_weather)
    return bench_gated.run_series(["fake_q"], 3, "/nonexistent", len(probes))


_CLEAN_CHILD = {
    "query": "fake_q", "cold": 2.0, "warm": [0.5, 0.4, 0.6],
    "warm_median": 0.5,
    "stage_weather": {"stages": 4, "run_ms": 800, "cpu_ms": 640,
                      "cpu_over_run": 0.8},
}


def test_gated_accepts_clean_run(bench_gated, monkeypatch):
    """Both bracketing probes clean + stage floor above the gate →
    accepted, with probes, floor and try count embedded."""
    doc = _gated_doc(
        bench_gated, monkeypatch, [(True, True)], [_CLEAN_CHILD]
    )
    row = doc["queries"]["fake_q"]
    assert row["accepted"]["warm_median"] == 0.5
    assert row["accepted"]["stage_floor"] == 0.8
    assert row["accepted"]["tries"] == 1
    assert row["accepted"]["probe_before"] == {"fake": "probe"}
    assert row["rejected_attempts"] == []
    assert doc["all_accepted"] is True and doc["accepted_total"] == 0.5


def test_gated_rejects_collapsed_floor_then_accepts(bench_gated, monkeypatch):
    """An in-run stage floor below STAGE_FLOOR is a window collapse:
    the attempt is REJECTED AND LOGGED (never silently dropped), and a
    later clean attempt still lands."""
    collapsed = dict(_CLEAN_CHILD)
    collapsed["warm_median"] = 3.1
    collapsed["stage_weather"] = {
        "stages": 4, "run_ms": 10000, "cpu_ms": 1000, "cpu_over_run": 0.1,
    }
    doc = _gated_doc(
        bench_gated, monkeypatch,
        [(True, True), (True, True)], [collapsed, _CLEAN_CHILD],
    )
    row = doc["queries"]["fake_q"]
    assert row["accepted"]["warm_median"] == 0.5
    assert row["accepted"]["tries"] == 2
    assert len(row["rejected_attempts"]) == 1
    rej = row["rejected_attempts"][0]
    assert "stage floor" in rej["verdict"] and rej["warm_median"] == 3.1


def test_gated_rejects_dirty_closing_probe(bench_gated, monkeypatch):
    """A run whose CLOSING probe is outside the envelope is rejected
    even when the child completed: the window may have collapsed after
    the last stage the in-run channel saw."""
    doc = _gated_doc(
        bench_gated, monkeypatch, [(True, False)], [_CLEAN_CHILD]
    )
    row = doc["queries"]["fake_q"]
    assert row["accepted"] is None
    assert "closing probe" in row["rejected_attempts"][0]["verdict"]
    assert doc["all_accepted"] is False and doc["accepted_total"] is None


def test_gated_no_window_exhausts_tries(bench_gated, monkeypatch):
    """When no window ever opens, every attempt is logged as such and
    the query row declares itself unaccepted — the artifact PROVES no
    window opened rather than silently measuring weather."""
    doc = _gated_doc(
        bench_gated, monkeypatch,
        [(False, True), (False, True)], [None, None],
    )
    row = doc["queries"]["fake_q"]
    assert row["accepted"] is None
    assert [a["verdict"] for a in row["rejected_attempts"]] == [
        "no window opened in poll budget: steal_pct 30 > 5.0",
        "no window opened in poll budget: steal_pct 30 > 5.0",
    ]


def test_gated_absent_probe_says_why(bench_gated, monkeypatch):
    """An attempt with no healthy window carries the last poll's reasons,
    so a probe that is absent on this box reads differently from weather
    that never cleared."""
    monkeypatch.setattr(bench_gated.bench, "host_condition", lambda: None)
    monkeypatch.setattr(bench_gated.bench.time, "sleep", lambda s: None)
    monkeypatch.delenv("SPARK_GRAFT_WEATHER_TRIES", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_WEATHER_WAIT_S", raising=False)
    ran = []
    monkeypatch.setattr(
        bench_gated._bi, "run_child", lambda *a: ran.append(a) or {}
    )
    doc = bench_gated.run_series(["fake_q"], 3, "/nonexistent", 1)
    (attempt,) = doc["queries"]["fake_q"]["rejected_attempts"]
    assert attempt["verdict"].startswith("no window opened in poll budget: ")
    assert "no host probe" in attempt["verdict"]
    assert ran == [] and doc["all_accepted"] is False


def test_gated_duplicate_query_refuses(bench_gated, monkeypatch, tmp_path):
    """A repeated --queries name would merge two query rows into one;
    distinct names reach run_series once each."""
    calls = []

    def fake_series(queries, reps, sf_dir, max_tries):
        calls.append(queries)
        return {"all_accepted": True, "accepted_total": None, "queries": {}}

    monkeypatch.setattr(bench_gated, "run_series", fake_series)
    out = str(tmp_path / "g.json")
    monkeypatch.setattr(bench_gated.sys, "argv", [
        "bench_gated_series.py", "--queries", "q01_scan,q01_scan", "--out", out,
    ])
    with pytest.raises(SystemExit) as e:
        bench_gated.main()
    assert "more than once" in str(e.value) and "q01_scan" in str(e.value)
    assert calls == []
    monkeypatch.setattr(bench_gated.sys, "argv", [
        "bench_gated_series.py", "--queries", "q01_scan,q03_join_agg",
        "--out", out,
    ])
    bench_gated.main()
    assert calls == [["q01_scan", "q03_join_agg"]]
