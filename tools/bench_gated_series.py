"""Per-query HEALTHY-WINDOW isolated series: the full-suite shared bench
needs a ~6-minute clean window, but this host's healthy intervals are
minute-scale (r19: five shared attempts opened healthy and collapsed
mid-suite, twice at the same ~2-minute mark — demand-uncorrelated
external steal, confirmed by a flat-throughput 60 s burn probe). A
SINGLE isolated query run needs only ~1.5 minutes, which the host does
offer — so this tool assembles the clean per-query picture the shared
run cannot: for every bench.py HEADLINE query it polls for a healthy
window, runs that one query through tools/bench_isolated.py in a fresh
process, brackets it with host probes, and ACCEPTS the run only when
(a) both bracketing probes are inside the envelope and (b) the child's
own in-run stage channel clears bench_trend.STAGE_FLOOR. Tainted runs
are retried (bounded) and recorded, never silently dropped.

Usage:
    python tools/bench_gated_series.py [--reps N] [--sf-dir DIR]
        [--out FILE] [--max-tries K] [--queries a,b,...]

The artifact (default BENCH_GATED.json) carries, per query: the
accepted run (cold, warm list, warm_median, stage_weather), both
bracketing probes, and the rejected-attempt log; plus the suite total
over accepted medians and an all_accepted verdict. Methodology per
run is byte-identical to bench_isolated (1 cold + N warm,
noop-materialized, same registry merge as bench.py) — this tool adds
only scheduling and gating, never timing.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TOOLS)
for p in (_TOOLS, _REPO):
    if p not in sys.path:
        sys.path.insert(0, p)

import bench  # noqa: E402 — host probe, weather verdict and window wait
import bench_isolated as _bi  # noqa: E402 — child runner and CLI helpers
from bench_trend import STAGE_FLOOR, full_coverage_ratio  # noqa: E402


def run_series(queries: list[str], reps: int, sf_dir: str, max_tries: int) -> dict:
    """The gating loop, separated from the CLI so the acceptance
    predicate (both bracketing probes clean AND in-run stage floor
    above STAGE_FLOOR, rejected attempts logged not dropped) is
    directly testable."""
    tmo = _bi.query_timeout(reps)
    t_start = time.monotonic()
    rows: dict[str, dict] = {}
    for q in queries:
        attempts: list[dict] = []
        accepted: dict | None = None
        for t in range(max_tries):
            # healthy windows on this host are minute-scale: poll
            # briskly (60 x 20 s unless $SPARK_GRAFT_WEATHER_* say
            # otherwise) so an open window is caught near its start
            p_before, wait_log = bench.wait_for_healthy_window(60, 20.0)
            if not wait_log[-1]["ok"]:
                # the last poll's reasons say WHY: weather that never
                # cleared vs a probe that is absent on this box
                attempts.append({
                    "try": t + 1,
                    "verdict": "no window opened in poll budget: "
                    + "; ".join(wait_log[-1]["reasons"]),
                })
                continue
            print(f"# {q} try {t + 1} ...", file=sys.stderr, flush=True)
            res = _bi.run_child(_REPO, q, reps, sf_dir, tmo)
            p_after = bench.host_condition()
            ok_after, why_after = bench._weather_verdict(p_after)
            if "error" in res:
                attempts.append(
                    {"try": t + 1, "verdict": f"child failed: {res['error'][:300]}"}
                )
                continue
            floor = full_coverage_ratio(res.get("stage_weather"))
            reasons = []
            if not ok_after:
                reasons.append(f"closing probe outside envelope: {why_after}")
            if floor is None:
                reasons.append("stage channel partial/unusable")
            elif floor < STAGE_FLOOR:
                reasons.append(
                    f"in-run stage floor {floor} < {STAGE_FLOOR} (window collapsed)"
                )
            if reasons:
                attempts.append(
                    {
                        "try": t + 1,
                        "verdict": "; ".join(reasons),
                        "warm_median": res.get("warm_median"),
                        "stage_floor": floor,
                    }
                )
                print(
                    f"# {q} try {t + 1} REJECTED: {reasons}",
                    file=sys.stderr,
                    flush=True,
                )
                continue
            accepted = {
                "cold": res["cold"],
                "warm": res["warm"],
                "warm_median": res["warm_median"],
                "stage_weather": res.get("stage_weather"),
                "stage_floor": floor,
                "probe_before": p_before,
                "probe_after": p_after,
                "tries": t + 1,
            }
            print(
                f"# {q} ACCEPTED try {t + 1}: warm_median={res['warm_median']}"
                f" floor={floor}",
                file=sys.stderr,
                flush=True,
            )
            break
        rows[q] = {
            "accepted": accepted,
            "rejected_attempts": attempts,
        }

    ok_names = [q for q, r in rows.items() if r["accepted"]]
    doc = {
        "metric": "per-query healthy-window isolated series "
        "(1 cold + N warm per fresh process, noop-materialized, "
        "accepted only when bracketing probes AND in-run stage floor "
        "are clean)",
        "reps": reps,
        "sf_dir": sf_dir,
        "stage_floor_gate": STAGE_FLOOR,
        "queries": rows,
        "accepted_total": round(
            sum(rows[q]["accepted"]["warm_median"] for q in ok_names), 3
        )
        if ok_names
        else None,
        "n_accepted": len(ok_names),
        "n_queries": len(rows),
        "all_accepted": len(ok_names) == len(rows),
        "wall_s": round(time.monotonic() - t_start, 1),
    }
    return doc


def main() -> None:
    args = list(sys.argv[1:])
    _opt = functools.partial(_bi.take_opt, args)
    try:
        reps = int(_opt("--reps", "3"))
        max_tries = int(_opt("--max-tries", "6"))
    except ValueError as e:
        sys.exit(f"non-integer flag value: {e}")
    sf_dir = os.path.abspath(
        _opt("--sf-dir", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    )
    out = _opt("--out", "BENCH_GATED.json")
    queries_s = _opt("--queries", None)
    if args:
        sys.exit(f"unrecognized arguments: {args}")
    if reps < 1:
        sys.exit(f"reps must be >= 1, got {reps}")
    if max_tries < 1:
        sys.exit(f"max-tries must be >= 1, got {max_tries}")
    queries = (
        list(bench.HEADLINE) if queries_s is None else _bi.query_list(queries_s)
    )
    _bi.probe_out_writable(out)

    doc = run_series(queries, reps, sf_dir, max_tries)
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(
        json.dumps(
            {
                "metric": "bench_gated_series_summary",
                "all_accepted": doc["all_accepted"],
                "accepted_total": doc["accepted_total"],
                "per_query": {
                    q: (r["accepted"] or {}).get("warm_median")
                    for q, r in doc["queries"].items()
                },
                "out": out,
            }
        )
    )


if __name__ == "__main__":
    main()
