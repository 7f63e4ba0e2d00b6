"""Paired A/B runner: compare two code trees in alternating pairs.

    python tools/ab.py OLD NEW (--workload W | --query Q) --seeds A-B

OLD (the parent) and NEW (the change) are git revs, each exported with
`git archive` to a temporary directory removed at exit, or `.` for this
working tree. Pair i runs seed i on both sides, the first pair OLD first
and each next pair in the other order, so host drift lands on both sides.
A workload child is `perfbench/run.py --workload W --seed S --seconds 3
--trace 0`, judged on BENCHMARK.json's end-to-end metrics (direction and
bound from this checkout's file); a query child is that tree's
`tools/bench_isolated.py Q` at $SPARK_GRAFT_SF_DIR, judged on warm_median
(lower is better). The printed markdown table names any run with
`correct: false`, failed ops or no result in every row.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench_isolated  # noqa: E402 — the fresh-process child runner

SIDES = ("parent", "change")
# one perfbench run is ~30-45 s on 4 cores; a child past this is hung
WORKLOAD_TIMEOUT_S = 900.0
QUERY_REPS = 3


def parse_seeds(spec: str) -> list[int]:
    m = re.fullmatch(r"(\d+)-(\d+)", spec)
    if not m or int(m[1]) > int(m[2]):
        sys.exit(f"--seeds takes A-B with integers A <= B, got {spec!r}")
    return list(range(int(m[1]), int(m[2]) + 1))


def export_tree(rev: str, stack: contextlib.ExitStack) -> str:
    """This checkout for `.`, else `git archive REV` in a temp dir."""
    if rev == ".":
        return REPO
    archive = subprocess.run(
        ["git", "archive", "--format=tar", rev], cwd=REPO, capture_output=True
    )
    if archive.returncode != 0:
        sys.exit(f"git archive {rev}: {archive.stderr.decode().strip()}")
    tree = stack.enter_context(tempfile.TemporaryDirectory(prefix="ab-"))
    with tarfile.open(fileobj=io.BytesIO(archive.stdout)) as tf:
        tf.extractall(tree, filter="data")
    return tree


def workload_child(workload: str):
    def run(tree: str, seed: int) -> dict:
        out, err = bench_isolated.run_process(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", "3", "--trace", "0"],
            tree, WORKLOAD_TIMEOUT_S,
        )
        if err is not None:
            return {"error": err}
        try:
            doc = json.loads(out.strip().splitlines()[-1])
            metrics = {k: v["value"] for k, v in doc["metrics"].items()}
        except (ValueError, IndexError, KeyError, TypeError, AttributeError):
            return {"error": "no result line in stdout: " + out[-500:]}
        return {"metrics": metrics, "correct": doc.get("correct"),
                "failed": doc.get("failed")}
    return run


def query_child(query: str):
    sf_dir = os.path.abspath(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    tmo = bench_isolated.query_timeout(QUERY_REPS)

    def run(tree: str, seed: int) -> dict:
        r = bench_isolated.run_child(tree, query, QUERY_REPS, sf_dir, tmo)
        return r if "error" in r else {"metrics": {"warm_median": r["warm_median"]}}
    return run


def run_pairs(trees: dict[str, str], seeds: list[int], child) -> dict:
    """side -> [(seed, result)], pair i running `child(tree, seeds[i])`
    on both sides, parent first on even i and change first on odd i.
    Exits non-zero after the first pair when both sides fail: the same
    failure (say a golden pinned to another scale) would repeat in
    every later pair."""
    runs: dict[str, list] = {side: [] for side in SIDES}
    for i, seed in enumerate(seeds):
        for side in SIDES if i % 2 == 0 else SIDES[::-1]:
            r = child(trees[side], seed)
            runs[side].append((seed, r))
            print(f"# seed {seed} {side}: {r.get('metrics', r)}",
                  file=sys.stderr, flush=True)
        if i == 0 and all("error" in runs[side][0][1] for side in SIDES):
            sys.exit("both sides failed the first pair, stopping:\n" + "\n".join(
                f"{side}: {runs[side][0][1]['error']}" for side in SIDES))
    return runs


def flag(result: dict) -> str:
    if "error" in result:
        return "error"
    bad = ["correct=false"] if result.get("correct") is False else []
    if result.get("failed"):
        bad.append(f"failed={result['failed']}")
    return ", ".join(bad)


def quartiles(xs: list[float]) -> tuple[float, ...]:
    """q1, median, q3 by linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def fmt(x: float) -> str:
    return f"{x:,.0f}" if abs(x) >= 100 else f"{x:.3g}"


def metric_row(spec: dict, runs: dict, flagged: str) -> str:
    name, higher = spec["name"], spec["better"] == "higher"
    vals = {side: [r.get("metrics", {}).get(name) for _, r in runs[side]]
            for side in SIDES}
    pairs = [(p, c) for p, c in zip(vals["parent"], vals["change"])
             if p is not None and c is not None]
    have = {side: [v for v in vals[side] if v is not None] for side in SIDES}
    if not have["parent"] or not have["change"]:
        return f"| {name} | no data | no data | | | | | {flagged} |"
    pq, cq = quartiles(have["parent"]), quartiles(have["change"])
    wins = sum((c > p) if higher else (c < p) for p, c in pairs)
    gap, iqr = abs(cq[1] - pq[1]), pq[2] - pq[0]
    bound = spec.get("bound")
    if bound is None:
        inside = "n/a"
    else:
        limit = pq[1] * (1 - bound if higher else 1 + bound)
        ok = cq[1] >= limit if higher else cq[1] <= limit
        inside = f"{'yes' if ok else 'NO'} ({bound:.0%})"
    return (
        f"| {name} ({spec['better']}) | "
        + " | ".join(" / ".join(fmt(v) for v in q) for q in (pq, cq))
        + f" | {cq[1] / pq[1] if pq[1] else float('nan'):.2f} | "
        f"{wins}/{len(pairs)} | "
        f"{fmt(gap)} {'>' if gap > iqr else '<='} {fmt(iqr)} | {inside} | "
        f"{flagged} |"
    )


def table(specs: list[dict], runs: dict) -> str:
    flagged = "; ".join(
        f"{side} seed {seed}: {why}"
        for side in SIDES for seed, r in runs[side]
        if (why := flag(r))
    ) or "none"
    head = ("| metric | parent q1 / med / q3 | change q1 / med / q3 "
            "| change/parent | change wins | median gap vs parent IQR "
            "| inside bound | flagged |")
    return "\n".join([head, "|" + "---|" * 8]
                     + [metric_row(s, runs, flagged) for s in specs])


def main(argv: list[str] | None = None, child=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload")
    mode.add_argument("--query")
    ap.add_argument("--seeds", required=True)
    args = ap.parse_args(argv)
    seeds = parse_seeds(args.seeds)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench_spec = json.load(f)
    if args.workload is not None:
        known = [w["name"] for w in bench_spec["workloads"]]
        if args.workload not in known:
            sys.exit(f"unknown workload {args.workload!r}; choose from {known}")
        specs = bench_spec["end_to_end"]
        child = child or workload_child(args.workload)
    else:
        specs = [{"name": "warm_median", "better": "lower"}]
        child = child or query_child(args.query)
    with contextlib.ExitStack() as stack:
        trees = {"parent": export_tree(args.old, stack),
                 "change": export_tree(args.new, stack)}
        runs = run_pairs(trees, seeds, child)
    print(f"parent = {args.old}, change = {args.new}; "
          f"{args.workload or args.query}; seeds {args.seeds}")
    print(table(specs, runs))


if __name__ == "__main__":
    main()
