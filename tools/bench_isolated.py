"""Isolated per-query bench: run ONE named suite query in a fresh process
(1 cold + N warm reps, noop-materialized) so cross-query session effects —
cache pressure, JIT state, GC debt from earlier queries — can't contaminate
the timing. This is the r3 text_profile playbook, kept as a tool.

Usage:
    python tools/bench_isolated.py QUERY [reps] [sf_dir]
Prints one JSON line {"query":..., "cold":..., "warm":[...], "warm_median":...,
"stage_weather": {...}}. tools/ab.py runs this CLI in each side's tree
through run_child to compare one query between two code trees.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def _run_one(name: str, reps: int, sf_dir: str) -> dict:
    import bench

    from schemamap_spark.session import get_spark
    from schemamap_spark.suite.extra import EXTRA_SPARK_QUERIES

    # every extras query stays reachable for ad-hoc isolation, but any
    # headline name resolves through bench.headline_registry() — the
    # SAME merge the shared-session bench uses, so the two series can
    # never silently time different implementations under one name
    # (review r13)
    registry = {**EXTRA_SPARK_QUERIES, **bench.headline_registry()}
    fn = registry[name]

    spark = get_spark("bench-isolated")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()

    # the same timing loop and job-group stage channel as bench.py: the
    # warm-up scan above is unlabelled, so it is billed to no query
    res = bench.run_query(spark, name, fn, sf_dir, reps)
    return {
        "query": name,
        "sf_dir": sf_dir,
        **res,
        "stage_weather": bench.query_stage_weather(spark, [name])[name],
    }


def _killpg(proc: subprocess.Popen) -> None:
    """Kill a child's whole process GROUP: proc.kill() reaches only the
    Python child, and a GC-wedged JVM may never notice its stdin
    watchdog."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass


def query_timeout(reps: int) -> float | None:
    """Per-child wall allowance: per-run budget + JVM startup, scaled
    to the rep count; BENCH_ISOLATED_TIMEOUT (total seconds per query)
    overrides for bigger scale factors where 300 s/run is too tight; 0
    or negative disables the timeout; a malformed value refuses loudly
    BEFORE any query runs (review r13 pass 5 — validate-then-measure)."""
    raw = os.environ.get("BENCH_ISOLATED_TIMEOUT")
    if raw is None or raw.strip() == "":
        return 120.0 + 300.0 * (1 + reps)
    try:
        tmo = float(raw)
    except ValueError:
        tmo = float("nan")
    if tmo != tmo:  # NaN parses but crashes communicate() mid-run
        raise SystemExit(
            f"BENCH_ISOLATED_TIMEOUT must be a number of seconds "
            f"(0 disables), got {raw!r}"
        )
    return None if tmo <= 0 else tmo


def parse_result_line(out_s: str) -> tuple[dict | None, str]:
    """The child-result acceptance predicate: a result is ONLY a dict
    carrying numeric warm_median, numeric cold and a list warm, found
    by scanning stdout in REVERSE — trailing non-JSON noise (a stray
    JVM shutdown message after the result line) must not demote a
    completed multi-minute run (ADVICE r13), and a stray JSON-parseable
    log line ('null', a number, a structured log) never counts as a
    result (review r13). Returns (dict, line) or (None, "")."""
    lines = out_s.strip().splitlines() if out_s and out_s.strip() else []
    for cand in reversed(lines):
        try:
            obj = json.loads(cand)
        except ValueError:
            continue
        if (
            isinstance(obj, dict)
            and isinstance(obj.get("warm_median"), (int, float))
            and isinstance(obj.get("cold"), (int, float))
            and isinstance(obj.get("warm"), list)
        ):
            return obj, cand
    return None, ""


def run_process(
    cmd: list[str], cwd: str, tmo: float | None
) -> tuple[str, str | None]:
    """Run `cmd` in `cwd` as a fresh process in its own process group:
    (stdout, None) on exit 0, else ("", error text). A fresh PROCESS is
    a new JVM, codegen cache and GC state: the strongest isolation this
    host offers. The child runner of run_child and tools/ab.py.

    On timeout the whole process GROUP is killed — proc.kill() reaches
    only the Python child, and a JVM wedged in a GC death spiral may
    never notice its stdin watchdog, contaminating every later timing —
    and the error carries the child's output tail so the hang is
    diagnosable. start_new_session detaches the child from the
    terminal's SIGINT, so any other abnormal exit (Ctrl-C, MemoryError)
    kills the group too."""
    proc = subprocess.Popen(
        cmd,
        cwd=cwd,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out_s, err_s = proc.communicate(timeout=tmo)
    except subprocess.TimeoutExpired:
        _killpg(proc)
        out_s, err_s = proc.communicate()
        return "", (
            f"timeout after {tmo:.0f}s; output tail: "
            + ((err_s or out_s or "")[-1500:])
        )
    finally:
        if proc.returncode is None:
            _killpg(proc)
    if proc.returncode != 0:
        return "", (err_s or out_s or "no output")[-2000:]
    return out_s or "", None


def run_child(
    root: str, query: str, reps: int, sf_dir: str, tmo: float | None
) -> dict:
    """One fresh-process single-query run of `root`'s own
    tools/bench_isolated.py CLI, so each tree is measured by exactly the
    code it shipped with. Returns the parsed result (parse_result_line)
    or {"error": ...}."""
    out_s, err = run_process(
        [sys.executable, os.path.join(root, "tools", "bench_isolated.py"),
         query, str(reps), sf_dir],
        root,
        tmo,
    )
    if err is not None:
        return {"error": err}
    parsed, _ = parse_result_line(out_s)
    if parsed is not None:
        return parsed
    return {"error": "no result line in stdout: " + out_s[-500:]}


USAGE = "usage: bench_isolated.py QUERY [reps] [sf_dir]"


def main() -> None:
    args = sys.argv[1:]
    if not args:
        # __doc__ is None under -OO; never exit 0 on a usage error
        raise SystemExit(__doc__ or USAGE)
    if len(args) > 3:
        raise SystemExit(f"unexpected extra arguments: {args[3:]} — {USAGE}")
    reps = 3
    if len(args) > 1:
        # a non-numeric reps operand refuses with the usage string like
        # every other argument error here — not a raw traceback
        # (ADVICE r13)
        try:
            reps = int(args[1])
        except ValueError:
            raise SystemExit(
                f"reps must be an integer, got {args[1]!r} — {USAGE}"
            )
    if reps < 1:
        raise SystemExit("reps must be >= 1 (warm stats need a warm run)")
    sf_dir = args[2] if len(args) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    print(json.dumps(_run_one(args[0], reps, sf_dir)))


if __name__ == "__main__":
    main()
