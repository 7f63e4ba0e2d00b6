"""Same-window A/B arbiter: time the SAME queries under TWO code trees
inside ONE weather window, alternating sides so a slow environmental
trend cannot masquerade as a code regression (VERDICT r17 #1: the
isolated series crept +18% over four rounds on untouched bench-path
code — each step passed the ±20% gate, but nothing in the protocol
could distinguish secular host drift from a slow code leak; this tool
is the decisive experiment).

Usage:
    python tools/bench_ab.py OLD_ROOT NEW_ROOT --queries q1,q2[,...]
        [--reps N] [--sf-dir DIR] [--out FILE]

Each query runs as an A B B A ladder (old, new, new, old) — four fresh
processes through each side's OWN tools/bench_isolated.py single-query
CLI (the r13 CLI is forward-compatible by its own docstring contract),
so linear within-window drift cancels to first order and each side is
measured by exactly the code it shipped with. The host probe brackets
the whole run AND every query block; the artifact embeds every probe
plus a weather_ok verdict (all probes in envelope), so the A/B is
self-certifying the same way the gated bench artifacts are.

Verdict semantics: per query, drift = (new_median - old_median) /
old_median over the pooled warm runs of each side's two processes.
A ≈ B (drifts inside the noise band) attributes the series creep to
environment; A < B consistently attributes it to code between the two
SHAs. The artifact records, SCALE.md interprets.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
for p in (_TOOLS, os.path.dirname(_TOOLS)):
    if p not in sys.path:
        sys.path.insert(0, p)

# the shared child-process contracts live beside this file in
# bench_isolated: run_child (fresh-process runner, process-GROUP kill,
# output tail on timeout), query_timeout (reps-scaled allowance +
# BENCH_ISOLATED_TIMEOUT override — the children ARE bench_isolated
# runs, so its env knob governs them here too), probe_out_writable
# (validate-then-measure for --out) and the CLI helpers. One copy each.
import bench  # noqa: E402 — host probe and weather verdict
import bench_isolated as _bi  # noqa: E402

# the calibrated in-run collapse threshold and the one rollup-usability
# predicate — single sources of truth in bench_trend (see its
# STAGE_FLOOR note for the anchors)
from bench_trend import STAGE_FLOOR, full_coverage_ratio  # noqa: E402


def _git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=30,
        )
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def _registry_names(root: str) -> set[str] | None:
    """The side's query registry — the exact merge
    bench_isolated._run_one performs — WITHOUT starting Spark (the
    registries are plain dict merges; importing them costs a pyspark
    import, not a JVM). Best-effort: None (skip validation for that
    side) when the probe fails, e.g. a tree predating the registry
    helpers. Exists so a typo'd query name refuses BEFORE the
    multi-process ladders run instead of surfacing as opaque error
    rows at the end (review r18 pass 2)."""
    code = (
        "import sys, json\n"
        "sys.path.insert(0, '.')\n"
        "import bench\n"
        "from schemamap_spark.suite.extra import EXTRA_SPARK_QUERIES\n"
        "print(json.dumps(sorted({**EXTRA_SPARK_QUERIES,"
        " **bench.headline_registry()})))\n"
    )
    try:
        proc = subprocess.run(
            [sys.executable, "-c", code],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=180,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if proc.returncode != 0:
        return None
    for cand in reversed(proc.stdout.strip().splitlines()):
        try:
            obj = json.loads(cand)
        except ValueError:
            continue
        if isinstance(obj, list) and all(isinstance(x, str) for x in obj):
            return set(obj)
    return None


def _pooled_median(runs: list[dict]) -> float | None:
    """Median over the POOLED warm reps of a side's runs — two fresh
    processes × N reps gives 2N samples; pooling beats median-of-medians
    at this sample size and keeps odd/even behavior obvious."""
    warm: list[float] = []
    for r in runs:
        for w in r.get("warm", []):
            if isinstance(w, (int, float)) and not isinstance(w, bool):
                warm.append(float(w))
    if not warm:
        return None
    warm.sort()
    return warm[len(warm) // 2]


def main() -> None:
    args = list(sys.argv[1:])
    queries_s = _bi.take_opt(args, "--queries", None)
    reps_s = _bi.take_opt(args, "--reps", "3")
    # abspath: the children run with cwd=<side root>, so a relative
    # sf_dir would resolve against EACH side's own tree — the two
    # sides timing different datasets (review r18 pass 1)
    sf_dir = os.path.abspath(_bi.take_opt(args, "--sf-dir", os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")))
    out = _bi.take_opt(args, "--out", "BENCH_AB.json")
    if len(args) != 2 or queries_s is None:
        sys.exit(__doc__ or "usage: bench_ab.py OLD NEW --queries a,b")
    old_root, new_root = (os.path.abspath(a) for a in args)
    for r in (old_root, new_root):
        if not os.path.isfile(os.path.join(r, "tools", "bench_isolated.py")):
            sys.exit(f"not a bench-capable tree: {r}")
    try:
        reps = int(reps_s)
    except ValueError:
        sys.exit(f"non-integer reps: {reps_s!r}")
    if reps < 1:
        sys.exit(f"reps must be >= 1, got {reps}")
    queries = _bi.query_list(queries_s)
    tmo = _bi.query_timeout(reps)
    _bi.probe_out_writable(out)
    # refuse typo'd names BEFORE any multi-minute ladder runs — a
    # query must resolve in BOTH trees (best-effort per side: a tree
    # whose registry can't be probed skips its half of the check)
    for label, root in (("old", old_root), ("new", new_root)):
        names = _registry_names(root)
        if names is None:
            print(
                f"# registry probe failed for {label} side — name "
                "validation skipped there", file=sys.stderr,
            )
            continue
        unknown = sorted(set(queries) - names)
        if unknown:
            sys.exit(f"unknown queries in {label} tree {root}: {unknown}")

    probes: list[dict | None] = [bench.host_condition()]
    t_start = time.monotonic()
    results: dict[str, dict] = {}
    for q in queries:
        runs: dict[str, list[dict]] = {"old": [], "new": []}
        # A B B A — alternation cancels linear drift; the outer probe
        # per block localizes any mid-run window collapse to one query
        for side in ("old", "new", "new", "old"):
            root = old_root if side == "old" else new_root
            print(f"# {q} [{side}] ...", file=sys.stderr, flush=True)
            res = _bi.run_child(root, q, reps, sf_dir, tmo)
            runs[side].append(res)
            tag = res.get("warm_median", res.get("error", "?"))
            print(f"# {q} [{side}] -> {tag}", file=sys.stderr, flush=True)
        row: dict = {"old": runs["old"], "new": runs["new"]}
        failed = [
            f"{side}#{i}"
            for side in ("old", "new")
            for i, r in enumerate(runs[side])
            if "warm_median" not in r
        ]
        if failed:
            # a lost ladder slot breaks the A-B-B-A drift cancellation:
            # the surviving runs of that side sample a different part
            # of the window than the other side's, re-acquiring exactly
            # the environmental bias the ladder exists to cancel — so
            # the row declares itself and withholds a drift verdict
            # instead of presenting a biased one (review r18 pass 2)
            row["error"] = (
                f"incomplete ladder (failed runs: {failed}) — "
                "drift withheld"
            )
        else:
            om = _pooled_median(runs["old"])
            nm = _pooled_median(runs["new"])
            if om is None or nm is None:
                # parse_result_line only requires `warm` to BE a list —
                # a side whose warm entries are non-numeric (or empty)
                # pools to None, and the drift arithmetic would
                # TypeError away the whole artifact (review r18 pass 3
                # — this guard was dropped by pass 2's rework)
                row["error"] = "a side produced no poolable warm samples"
            else:
                row["old_median"] = om
                row["new_median"] = nm
                row["drift"] = round((nm - om) / om, 4) if om else None
        # per-run stage floors (r18): r18+ children embed their own
        # app's rollup (stage_weather), so the ladder self-certifies
        # in-run window quality per run. A collapsed run is ANNOTATED,
        # not withheld — the A B B A alternation exposes both sides to
        # the same weather, so a collapse biases the comparison far
        # less than it biases an absolute timing; the reader (and
        # SCALE.md) weighs it. Classification mirrors bench_trend's
        # _stage_weather_of (review r18 pass 4): a run that CARRIES the
        # key but proves nothing — None/partial-coverage rollup, or a
        # poisoned bool/NaN ratio — is declared in `stage_partial`,
        # never silently dropped (a collapse's own lagging stage is
        # the likeliest source of a partial rollup, so silence would
        # mask exactly the runs the channel exists to name). Runs
        # WITHOUT the key are pre-r18 children: channel absent, no
        # declaration.
        floors = []
        partial = []
        for side in ("old", "new"):
            for i, r in enumerate(runs[side]):
                if "stage_weather" not in r:
                    continue
                tag = f"{side}#{i}"
                v = full_coverage_ratio(r.get("stage_weather"))
                if v is not None:
                    floors.append((tag, v))
                else:
                    partial.append(tag)
        if floors:
            row["stage_floor"] = min(f for _, f in floors)
            collapsed = sorted(t for t, f in floors if f < STAGE_FLOOR)
            if collapsed:
                row["window_collapse"] = collapsed
        if partial:
            row["stage_partial"] = partial
        results[q] = row
        probes.append(bench.host_condition())

    ok_all = True
    verdicts = []
    for i, p in enumerate(probes):
        ok, why = bench._weather_verdict(p)
        ok_all = ok_all and ok
        verdicts.append({"probe": i, "ok": ok, "reasons": why})
    doc = {
        "metric": "bench_ab",
        "sf_dir": sf_dir,
        "reps": reps,
        "old_root": old_root,
        "new_root": new_root,
        "old_sha": _git_sha(old_root),
        "new_sha": _git_sha(new_root),
        "wall_s": round(time.monotonic() - t_start, 1),
        "queries": results,
        "probes": probes,
        "probe_verdicts": verdicts,
        "weather_ok": ok_all,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    summary = {
        q: r.get("drift") for q, r in results.items()
    }
    print(json.dumps({
        "metric": "bench_ab_summary",
        "weather_ok": ok_all,
        "drift_new_vs_old": summary,
        "out": out,
    }))


if __name__ == "__main__":
    main()
