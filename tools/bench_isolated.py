"""Isolated per-query bench: run ONE named suite query in a fresh process
(1 cold + N warm reps, noop-materialized) so cross-query session effects —
cache pressure, JIT state, GC debt from earlier queries — can't contaminate
the timing. This is the r3 text_profile playbook, kept as a tool: when a
shared-session bench number moves without a code change, the isolated
series is the arbiter.

Single-query usage (unchanged):
    python tools/bench_isolated.py QUERY [reps] [sf_dir]
Prints one JSON line {"query":..., "cold":..., "warm":[...], "warm_median":...}.

Suite usage (VERDICT r12 #2 — make the drift arbitration a committed,
diffable ARTIFACT instead of ROUND_NOTES prose):
    python tools/bench_isolated.py --suite [reps] [sf_dir] [--out FILE]
Runs every bench.py HEADLINE query, each in its OWN fresh process (one
subprocess per query — full isolation, not just per-query sessions), and
writes FILE (default BENCH_ISOLATED.json at the repo root; at round close
name it BENCH_ISOLATED_rNN.json and commit it) with per-query cold/warm
series plus the warm-median total, comparable 1:1 against the driver's
BENCH_rNN.json "queries" map.
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
    watchdog. Shared with tools/bench_ab.py (review r18 pass 2: two
    copies of this subtle contract would drift)."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass


def query_timeout(reps: int) -> float | None:
    """Per-child wall allowance: per-run budget + JVM startup, scaled
    to the rep count; BENCH_ISOLATED_TIMEOUT (total seconds per query)
    overrides for bigger scale factors where 300 s/run is too tight; 0
    or negative disables the timeout; a malformed value refuses loudly
    BEFORE any query runs (review r13 pass 5 — validate-then-measure).
    Shared with tools/bench_ab.py, whose children run this same CLI
    (review r18 pass 2: its hardcoded 600 s ignored --reps and had no
    escape hatch)."""
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
    """The child-result acceptance predicate, ONE copy (review r18
    pass 2 — bench_ab had re-implemented it): a result is ONLY a dict
    carrying numeric warm_median, numeric cold and a list warm, found
    by scanning stdout in REVERSE — trailing non-JSON noise (a stray
    JVM shutdown message after the result line) must not demote a
    completed multi-minute run (ADVICE r13), a stray JSON-parseable
    log line ('null', a number, a structured log) never counts as a
    result (review r13), and the predicate must match what the
    artifact build projects AND sums — a dict merely carrying the
    keys with non-numeric values would crash the doc build after
    every query already ran (review r14 x2). Returns (dict, line) or
    (None, "")."""
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


def probe_out_writable(out: str) -> None:
    """Validate --out writability BEFORE any work — the artifact is
    written only after the whole multi-minute run, so a typo'd
    directory would discard every result at the very end (review r15;
    the same validate-then-measure rule as the timeout env check).
    Unlinks only a file the probe itself created: an aborted run must
    leave "never ran" (no file), not a spurious empty artifact (review
    r15 pass 4). The probe NEVER consults exists() and NEVER opens
    with an implicit create: it attempts an O_EXCL create first (the
    only file it ever unlinks is one that call itself made), and on
    FileExistsError probes with O_APPEND WITHOUT O_CREAT — an open
    that cannot manufacture a 0-byte artifact if the file vanishes in
    between (the residual recreate-and-keep race a review found in the
    open('a') fallback; ADVICE r15 + review r16 x2). A
    FileNotFoundError from the no-create probe means the world flipped
    between the two calls — retry the create side; a path
    flip-flopping under concurrent create/delete is writable on any
    reading of events, so the bounded loop falls through as success.
    realpath targets the file itself behind a (dangling or live)
    symlink and never the user's symlink (review r15 passes 5+6).
    Shared with tools/bench_ab.py (review r18 pass 2: it validated
    nothing and could lose a whole A/B at the final write)."""
    try:
        target = os.path.realpath(out)
        for _ in range(4):
            try:
                os.close(
                    os.open(target, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
                )
            except FileExistsError:
                try:
                    os.close(os.open(target, os.O_WRONLY | os.O_APPEND))
                except FileNotFoundError:
                    continue  # vanished again — retry the create probe
                break  # someone's data: probed writable, left alone
            try:
                os.unlink(target)
            except FileNotFoundError:
                pass  # raced away again — nothing of ours remains
            except OSError as e:
                # create succeeded but the delete didn't (exotic: dir
                # went immutable/sticky between the calls) — the path
                # may well be writable, but the probe can no longer
                # uphold its own contract ("an aborted run leaves no
                # file"): its 0-byte artifact is stuck on disk. Refuse
                # LOUDLY and NAME the leftover instead of exiting "not
                # writable" with a silent stranded file (ADVICE r16).
                raise SystemExit(
                    f"--out probe created {target!r} but could not "
                    f"remove it ({e}); a 0-byte probe artifact "
                    f"remains — delete it and retry"
                )
            break
    except OSError as e:
        raise SystemExit(f"--out path {out!r} is not writable: {e}")


def run_child(
    root: str, query: str, reps: int, sf_dir: str, tmo: float | None
) -> dict:
    """One fresh-process single-query run of `root`'s own
    tools/bench_isolated.py CLI — the one child runner behind --suite,
    tools/bench_ab.py (which ladders each side's own tree) and
    tools/bench_gated_series.py. A fresh PROCESS is a new JVM, codegen
    cache and GC state: the strongest isolation this host offers.
    Returns the parsed result (parse_result_line) or {"error": ...}.

    On timeout the whole process GROUP is killed — proc.kill() reaches
    only the Python child, and a JVM wedged in a GC death spiral may
    never notice its stdin watchdog, contaminating every later timing —
    and the error carries the child's output tail so the hang is
    diagnosable. start_new_session detaches the child from the
    terminal's SIGINT, so any other abnormal exit (Ctrl-C, MemoryError)
    kills the group too."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(root, "tools", "bench_isolated.py"),
         query, str(reps), sf_dir],
        cwd=root,
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
        return {
            "error": f"timeout after {tmo:.0f}s; output tail: "
            + ((err_s or out_s or "")[-1500:]),
        }
    finally:
        if proc.returncode is None:
            _killpg(proc)
    if proc.returncode != 0:
        return {"error": (err_s or out_s or "no output")[-2000:]}
    parsed, _ = parse_result_line(out_s or "")
    if parsed is not None:
        return parsed
    return {"error": "no result line in stdout: " + (out_s or "")[-500:]}


def take_opt(args: list[str], flag: str, default: str | None) -> str | None:
    """Remove `flag VALUE` from `args` and return VALUE, or `default`
    when the flag is absent; exits when the value is missing."""
    if flag not in args:
        return default
    i = args.index(flag)
    if i + 1 >= len(args):
        sys.exit(f"{flag} requires a value")
    v = args[i + 1]
    del args[i : i + 2]
    return v


def query_list(spec: str) -> list[str]:
    """The --queries value split on commas. Exits on an empty list (an
    artifact with no rows reads as a completed experiment) and on a
    repeated name (its runs would silently merge into one row)."""
    queries = [q.strip() for q in spec.split(",") if q.strip()]
    if not queries:
        sys.exit(f"--queries parsed to an empty list: {spec!r}")
    dups = sorted({q for q in queries if queries.count(q) > 1})
    if dups:
        sys.exit(f"--queries names a query more than once: {dups}")
    return queries


def _run_suite(reps: int, sf_dir: str, out: str) -> None:
    # the headline list lives in bench.py — one source of truth, so the
    # isolated artifact stays 1:1 comparable with the driver's BENCH_rNN
    import bench

    results: dict[str, dict] = {}
    tmo = query_timeout(reps)

    # weather bracketing the suite (r15): the host oscillates between
    # healthy, page-fault-stalled and steal-capped regimes on minute
    # timescales, and a fresh fault-heavy JVM per query is MORE weather-
    # sensitive than one warm shared session; the probe in the artifact
    # lets a later reader split code from climate. AFTER the timeout
    # validation, so a malformed env var costs no saturation burst.
    host_before = bench.host_condition()

    for name in bench.HEADLINE:
        # a timeout or failure lands in the error map, so one hung child
        # cannot lose the other queries' results (review r13)
        results[name] = res = run_child(_REPO, name, reps, sf_dir, tmo)
        if "error" in res:
            print(f"# {name}: FAILED: {res['error'][:200]}", file=sys.stderr)
        else:
            print(json.dumps(res), file=sys.stderr)
    ok = {n: r for n, r in results.items() if "warm_median" in r}
    errors = sorted(set(results) - set(ok))
    doc = {
        "metric": "bench_isolated_suite",
        "sf_dir": sf_dir,
        "reps": reps,
        # the total covers ONLY the queries that ran; `errors` sits
        # beside it so a partial run can never read as a speedup when
        # diffed against the driver's BENCH_rNN total (review r13)
        "total_warm_median": round(sum(r["warm_median"] for r in ok.values()), 3),
        "complete": not errors,
        "errors": errors,
        "host": host_before,
        "host_after": bench.host_condition(),
        "queries": {
            n: (
                {"cold": r["cold"], "warm": r["warm"], "warm_median": r["warm_median"]}
                if "warm_median" in r
                else {"error": r["error"]}
            )
            for n, r in results.items()
        },
        # in-run stage channel (r18): each child fetches its OWN app's
        # stage rollup after its timed reps — the isolated series joins
        # the STAGE_FLOOR gate with per-query coverage. A child that
        # predates the key or whose fetch failed contributes None,
        # which bench_trend counts as partial coverage (fail-closed if
        # NOTHING has full coverage — the same contract as the shared
        # artifact's channel).
        "queries_stage_weather": {
            n: r.get("stage_weather")
            for n, r in results.items() if "warm_median" in r
        },
    }
    with open(out, "w") as f:
        f.write(json.dumps(doc, indent=1) + "\n")
    print(json.dumps(doc))


def main() -> None:
    args = list(sys.argv[1:])
    out = None
    if "--out" in args:
        i = args.index("--out")
        if i + 1 >= len(args):
            raise SystemExit("--out needs a file path")
        out = args[i + 1]
        del args[i : i + 2]
        if not out:
            # an empty value (unset shell var: --out "$OUT") must refuse
            # like the pre-r15 open("") did — falling through would
            # silently clobber the repo-default artifact after the whole
            # suite (review r15 pass 5)
            raise SystemExit("--out needs a non-empty file path")
    if not args:
        # __doc__ is None under -OO; never exit 0 on a usage error
        raise SystemExit(
            __doc__ or "usage: bench_isolated.py QUERY|--suite [reps] [sf_dir] [--out FILE]"
        )
    suite = args[0] == "--suite"
    # operands after the mode token: [reps] [sf_dir] in both modes
    operands = args[1:]
    if operands:
        # a non-numeric reps operand refuses with the usage string like
        # every other argument error here — not a raw traceback
        # (ADVICE r13)
        try:
            reps = int(operands[0])
        except ValueError:
            raise SystemExit(
                f"reps must be an integer, got {operands[0]!r} — usage: "
                "bench_isolated.py QUERY|--suite [reps] [sf_dir] [--out FILE]"
            )
    else:
        reps = 3
    if reps < 1:
        raise SystemExit("reps must be >= 1 (warm stats need a warm run)")
    sf_dir = operands[1] if len(operands) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    if len(operands) > 2:
        # a misplaced output path (forgotten --out) must not silently
        # write the artifact to the default file (review r13)
        raise SystemExit(f"unexpected extra arguments: {operands[2:]}")
    if out:
        # runs AFTER the other argument checks (validate-then-measure,
        # cheapest refusals first); the probe itself moved to
        # probe_out_writable so bench_ab shares it (review r18 pass 2)
        probe_out_writable(out)
    if suite:
        _run_suite(reps, sf_dir, out or os.path.join(_REPO, "BENCH_ISOLATED.json"))
        return
    result = _run_one(args[0], reps, sf_dir)
    if out:  # honor --out in single-query mode too (review r13)
        with open(out, "w") as f:
            f.write(json.dumps(result) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
