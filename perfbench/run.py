"""Product-flow benchmark for schemamap_spark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one closed-loop client on
local[<cores>]: each op is sent when the previous one returns. The timed
phase runs whole cycles of the workload's fixed op list until at least
`--seconds` have passed. The last stdout line is one JSON object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`
(a traced pass plus an untraced reference pass of the same cycles, for the
tracing overhead). Exits non-zero without a result line when the program
cannot be imported or set up.
"""

from __future__ import annotations

import time

PROC_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "cpu_s": "s/op",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "driver.build_ms": "ms",
    "driver.plan_ms": "ms",
    "engine.memo_hit_ratio": "ratio",
    "smo.build_ms": "ms",
    "engine.refresh_ms": "ms",
    "engine.status_json_ms": "ms",
    "engine.candidates_ms": "ms",
    "concepts.define_ms": "ms",
    "sources.read_csv_ms": "ms",
    "imports.run_ms": "ms",
    "sources.merge_build_ms": "ms",
    "sources.commit_ms": "ms",
    "sources.write_amp": "ratio",
    "imports.loaded": "rows",
    "imports.valid": "rows",
    "imports.violations": "rows",
    "operators.minhash_lsh_similar_pairs_ms": "ms",
    "functions.text_profile_ms": "ms",
    "operators.cosine_topk_ms": "ms",
"operators.out_rows": "rows",
    "operators.cached_mb_delta": "MB",
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.cpu_ms": "ms/op",
    "exec.task_run_ms": "ms/op",
    "exec.cpu_over_run": "ratio",
    "exec.shuffle_read_mb": "MB/op",
    "exec.shuffle_write_mb": "MB/op",
    "exec.spill_mb": "MB/op",
    "exec.gc_ms": "ms/op",
    "exec.unattributed_frac": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.addbatch_ms": "ms",
    "streaming.walcommit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_mem_mb": "MB",
    "streaming.late_rows_dropped": "rows",
    "session.cached_mb_end": "MB",
    "trace.overhead_ms": "ms/op",
}
# span name -> per-layer metric: the median duration of that call
CALL_SPANS = (
    "smo.build", "engine.refresh", "engine.status_json", "engine.candidates",
    "concepts.define", "sources.read_csv", "imports.run", "sources.merge_build",
    "sources.commit", "operators.minhash_lsh_similar_pairs", "functions.text_profile",
    "operators.cosine_topk",
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class RssSampler:
    """Peak resident set of this process plus the driver JVM, sampled every
    `period` seconds while running."""

    def __init__(self, pids: list[int], period: float = 0.05):
        self.pids = pids
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def rss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(self.rss_kb(p) for p in self.pids))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def timed_pass(wl, seconds: float | None = None, cycles: int | None = None) -> dict:
    """Run whole cycles until `seconds` have passed (or exactly `cycles`).
    Returns latencies, rows, attempted/failed counts, start time, wall and
    cycle count."""
    import traceback

    from perfbench.workloads import Outcome

    lat: list[float] = []
    rows = attempted = failed = done = 0
    t0 = time.perf_counter()
    while True:
        for op in wl.cycle():
            wl.tracer.op += 1
            t = time.perf_counter()
            try:
                out = op.run()
            except Exception:  # a failed op is counted, the loop goes on
                log(f"op {op.name} raised:\n{traceback.format_exc()}")
                out = Outcome(0, False)
            ms = (time.perf_counter() - t) * 1e3
            samples = out.samples_ms if out.samples_ms else [ms]
            lat += samples
            attempted += len(samples)
            failed += 0 if out.ok else len(samples)
            rows += out.rows
            log(f"op {op.name:24s} {ms:9.1f} ms" + ("" if out.ok else "  WRONG OR FAILED"))
        done += 1
        elapsed = time.perf_counter() - t0
        if (cycles is not None and done >= cycles) or (cycles is None and elapsed >= seconds):
            break
    return {"lat": lat, "rows": rows, "attempted": attempted, "failed": failed,
            "t0": t0, "wall": time.perf_counter() - t0, "cycles": done}


def layer_metrics(wl, spans, attribution, jobs_stages, ops: int) -> dict[str, float]:
    from perfbench.spans import build_plan_ms, median, stage_totals

    out = {k: 0.0 for k in PER_LAYER}
    for name in CALL_SPANS:
        out[f"{name}_ms"] = median([s.ms for s in spans if s.name == name])
    # build/plan time per op, memo hits and misses alike
    build_ms, plan_ms = build_plan_ms(spans)
    out["driver.build_ms"] = build_ms / ops
    out["driver.plan_ms"] = plan_ms / ops
    jobs, stages = jobs_stages
    tot = stage_totals(list(stages.values()))
    for k in ("stages", "cpu_ms", "task_run_ms", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "gc_ms"):
        out[f"exec.{k}"] = tot[k] / ops
    out["exec.jobs"] = len(jobs) / ops
    out["exec.cpu_over_run"] = tot["cpu_ms"] / tot["task_run_ms"] if tot["task_run_ms"] else 0.0
    out["exec.unattributed_frac"] = attribution["unattributed_frac"]
    out.update(wl.layer_counters())
    return out


def dump_spans(path: str, spans, attribution) -> None:
    from perfbench.spans import self_ms

    selfs = self_ms(spans)
    rows = [
        {"sid": s.sid, "name": s.name, "op": s.op, "parent": s.parent, "ms": round(s.ms, 3),
         "self_ms": round(selfs[s.sid], 3), "group": s.group, **s.attrs,
         "exec": attribution["by_span"].get(s.sid)}
        for s in spans
    ]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(rows, f)
    per: dict[str, list[float]] = {}
    for r in rows:
        per.setdefault(r["name"], []).append(r["self_ms"])
    for name, xs in sorted(per.items()):
        log(f"  span {name:40s} n={len(xs):4d} self_ms_total={sum(xs):10.1f}")


def start_session(work: str):
    cores = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata files in the system temp dir, from any JVM we start
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    from schemamap_spark.session import get_spark

    spark = get_spark("perfbench", extra_configs={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: resident memory then follows the program's
        # allocation, not heap-resizing decisions of the collector
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_one(args) -> dict:
    from perfbench.spans import (
        SparkRest, Tracer, attribute, percentile, stage_totals, tail_percentile,
    )
    from perfbench.workloads import WORKLOADS

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = start_session(work)
    try:
        session_s = time.perf_counter() - PROC_START
        sc = spark.sparkContext
        rest = SparkRest(sc)
        tracer = Tracer(sc, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, rest, work, args.seed)
        # the first status REST call loads the API servlets (~2 s on 4 cores):
        # make it beside the warm-up
        primer = threading.Thread(target=rest.get, args=("jobs",))
        primer.start()
        t = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        primer.join()
        log(f"setup: session {session_s:.2f}s, prepare {prep_s:.2f}s, warm {warm_s:.2f}s")

        if not args.trace:
            first_job = rest.next_job_id()
            jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
            with RssSampler([os.getpid(), jvm_pid]) as rss:
                res = timed_pass(wl, seconds=args.seconds)
            phase = rest.phase(first_job)
            t = time.perf_counter()
            checks_ok = wl.finish()
            log(f"end-of-run checks: {time.perf_counter() - t:.2f}s")
            n = res["attempted"]
            pct, tail = tail_percentile(res["lat"])
            print(f"# {args.workload}: {res['cycles']} cycles, n={n} ops, "
                  f"op_tail_ms is p{pct:g}, failed_frac={res['failed'] / n:g}, "
                  f"rows are {wl.row_unit}")
            metrics = {
                # process start to the first timed op
                "setup_s": res["t0"] - PROC_START,
                "rows_per_s": res["rows"] / res["wall"],
                "op_p50_ms": percentile(res["lat"], 50),
                "op_tail_ms": tail,
                # per op over whole cycles: the same mix of ops in every run
                "cpu_s": stage_totals(list(phase[1].values()))["cpu_ms"] / 1e3 / n,
                "peak_rss_mb": rss.peak_kb / 1024,
            }
            units, runs = END_TO_END, [res]
        else:
            tracer.enabled = True
            sc.setJobGroup(tracer.root_group, "perfbench")
            first_job = rest.next_job_id()
            with wl.tracing():
                res = timed_pass(wl, seconds=args.seconds)
            phase = rest.phase(first_job)
            attribution = attribute(tracer.spans, *phase)
            metrics = layer_metrics(wl, tracer.spans, attribution, phase, res["attempted"])
            metrics["session.cached_mb_end"] = rest.storage_mb()
            dump_spans(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json"),
                       tracer.spans, attribution)
            # untraced reference over as many cycles, continuing from the
            # state the traced pass left; it runs second, on a warmer JVM, so
            # the overhead errs high
            tracer.enabled = False
            ref = timed_pass(wl, cycles=res["cycles"])
            checks_ok = wl.finish()
            metrics["trace.overhead_ms"] = (res["wall"] - ref["wall"]) * 1e3 / res["attempted"]
            units, runs = PER_LAYER, [res, ref]
        log(f"timed: {res['cycles']} cycles, {res['attempted']} ops in {res['wall']:.2f}s")
        failed = sum(r["failed"] for r in runs)
        return {
            "correct": failed == 0 and checks_ok,
            "attempted": sum(r["attempted"] for r in runs),
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def run_all(args) -> dict:
    """Every workload in its own process, one after another."""
    from perfbench.workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        one = json.loads(lines[-1])
        print(f"# {name}: " + ", ".join(
            f"{k}={v['value']:.4g} {v['unit']}" for k, v in one["metrics"].items()
        ) + f", failed_frac={one['failed'] / one['attempted']:.4g}")
        combined["correct"] &= one["correct"]
        combined["attempted"] += one["attempted"]
        combined["failed"] += one["failed"]
        combined["metrics"].update({f"{name}.{k}": v for k, v in one["metrics"].items()})
    return combined


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import schemamap_spark
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2
    if not os.path.abspath(schemamap_spark.__file__).startswith(ROOT + os.sep):
        log(f"schemamap_spark resolves outside {ROOT}: {schemamap_spark.__file__}")
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload != "all" and args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or 'all'")
        return 2
    result = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
