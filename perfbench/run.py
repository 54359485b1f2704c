"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` (under ``.perfbench/``), sets up ``SETUP_REPS`` times on one
local Spark session (get the session, build the plans, run one untimed
warm-up pass; the first set-up also starts the JVM), then runs passes one
at a time for ``--seconds`` (closed loop, one client). Outputs are checked
outside the timed section.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
reports its per-layer metrics instead: a traced session with Spark's event
log on, job groups around each layer call, and prefix cuts (tracing.py,
workloads.py). The human-readable report goes first; the last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: set-ups per run; setup_s is their median
SETUP_REPS = 3
#: passes in each half of a traced run (untraced, then traced)
TRACE_PASSES = 1
#: timed repetitions of every prefix cut, after one untimed warm-up
CUT_REPS = 1
#: a pass's top-level cuts must add up to the pass, in task time, within
#: this share
RECONCILE_TOL = 0.25
#: the session's 64g default heap is 4x this host's 15 GiB of RAM. The heap
#: is fixed and pre-touched: with a growable heap the JVM's resident set
#: follows G1's resizing (1.43-1.89 GB across three curate runs at a 3g cap,
#: the Python workers a constant 0.73 GB), so peak_rss_mb would measure GC
#: timing instead of the program
DRIVER_MEM = "2g"


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def _env(tmp: str) -> None:
    """Environment the JVM and Python workers inherit: the program on the
    workers' path and every temp file inside the checkout."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_UI"] = "false"


def _session(work: str, extra: dict | None = None):
    from text_extraction_system_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        # one input file per task: the corpora are written as equal splits
        "spark.sql.files.openCostInBytes": str(128 << 20),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }
    spark = get_spark(master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    spark.stop()
    _stop_jvm()


def _stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _setup(wl, work: str) -> tuple[object, list[float], list[float]]:
    """SETUP_REPS set-ups on one session: each gets the session, builds the
    plans and runs one untimed warm-up pass. The first also launches the
    JVM and warms its JIT; the median is a warm set-up."""
    setups, sessions = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = _session(work)
        sessions.append(time.perf_counter() - t0)
        wl.prepare(spark)
        wl.run_pass(spark)
        setups.append(time.perf_counter() - t0)
    return spark, setups, sessions


def _passes(wl, spark, seconds: float, min_passes: int = 1) -> list[dict]:
    """Closed loop: the next pass starts when the previous one returns."""
    import host

    out = []
    end = time.perf_counter() + seconds
    while len(out) < min_passes or time.perf_counter() < end:
        window = host.window()
        t0 = time.perf_counter()
        try:
            docs, err = wl.run_pass(spark), None
        except Exception:  # a failed pass counts against fail_frac
            docs, err = 0, traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        out.append({"docs": docs, "wall_s": wall, "error": err, "host": host.close(window)})
    return out


def _gates(checks: list[tuple[str, bool, str]]) -> int:
    for name, ok, detail in checks:
        print(f"  gate {name:32s} {'ok  ' if ok else 'FAIL'} {detail}")
    return sum(1 for _, ok, _ in checks if not ok)


def _host_summary(passes: list[dict]) -> dict[str, float]:
    hs = [p["host"] for p in passes]
    return {
        "host.foreign_cpu_cores": max(h["foreign_cpu_cores"] for h in hs),
        "host.steal_cores": max(h["steal_cores"] for h in hs),
        "host.other_cpu_cores": max(h["other_cpu_cores"] for h in hs),
        "host.load1": max(max(h["load1_start"], h["load1_end"]) for h in hs),
    }


def _report(name: str, unit: str, values: list[float]) -> float:
    q1, med, q3 = _quartiles(values)
    print(f"  {name:22s} {med:12.4f} {unit:7s} n={len(values):<3d} "
          f"q1={q1:.4f} q3={q3:.4f}")
    return med


def _untraced(wl, spark, seconds: float, setups: list[float]) -> tuple[dict, int, int]:
    """Timed passes, then the gates: the end-to-end metrics."""
    import host

    rss = host.RssSampler().start()
    passes = _passes(wl, spark, seconds)
    rss.stop()
    print("# gates")
    checks = wl.gates(spark)
    _shutdown(spark)
    failed = sum(1 for p in passes if p["error"]) + _gates(checks)
    attempted = len(passes) + len(checks)
    for p in passes:
        if p["error"]:
            print(f"  pass failed: {p['error']}")
    rates = [p["docs"] / p["wall_s"] for p in passes if not p["error"]] or [0.0]
    print(f"# end-to-end ({len(passes)} passes of {wl.n_docs} docs, "
          f"local[{len(os.sched_getaffinity(0))}])")
    metrics = {
        "setup_s": _report("setup_s", "s", setups),
        "docs_per_s": _report("docs_per_s", "docs/s", rates),
        "peak_rss_mb": _report("peak_rss_mb", "MB", [rss.peak_mb]),
    }
    print(f"  {'fail_frac':22s} {failed / attempted:12.4f} ratio   n={attempted}")
    quiet = sum(1 for p in passes if host.is_quiet(p["host"]))
    print(f"# host: {json.dumps(_host_summary(passes))}; {quiet} of {len(passes)} "
          f"passes quiet by bench.py's gate")
    return metrics, failed, attempted


def _traced(wl, spark, work: str) -> tuple[dict, int, int]:
    """Untraced passes, then a session with the event log on: traced passes,
    the gates and every prefix cut under job groups. The per-layer metrics."""
    from tracing import Tracer, engine_metrics, event_log_conf, read_events, task_seconds

    untraced = _passes(wl, spark, 0, TRACE_PASSES)
    spark.stop()
    log_dir = os.path.join(work, "eventlog")
    spark = _session(work, event_log_conf(log_dir))
    wl.prepare(spark)
    tr = Tracer(spark)
    with tr.span("warmup"):
        wl.run_pass(spark)
    for _ in range(TRACE_PASSES):
        with tr.span("pass"):
            wl.run_pass(spark)
    print("# gates")
    with tr.span("gates"):
        checks = wl.gates(spark)
    layers = wl.layers(spark, tr, CUT_REPS)
    for probe in (getattr(wl, "commit", None), getattr(wl, "ann", None)):
        checks += getattr(probe, "gate_results", [])
    _shutdown(spark)
    failed = sum(1 for p in untraced if p["error"]) + _gates(checks)
    attempted = len(untraced) + len(checks)

    events = read_events(log_dir)
    un_s = statistics.median(p["wall_s"] for p in untraced)
    tr_s = statistics.median(tr.spans["pass"])
    # the pass's top-level cuts must add up to the pass in task time
    # (busy core-seconds adds across concurrent branches; wall does not)
    busy = task_seconds(events)
    cut_busy = sum(busy.get(c, 0.0) for c in wl.top_cuts) / CUT_REPS
    pass_busy = busy.get("pass", 0.0) / TRACE_PASSES
    err = abs(cut_busy - pass_busy) / pass_busy
    print(f"  reconcile: top-level cuts {', '.join(wl.top_cuts)} take "
          f"{cut_busy:.3f} task-s vs {pass_busy:.3f} task-s for the pass, error "
          f"{err:.3f} ({'within' if err <= RECONCILE_TOL else 'OUTSIDE'} tolerance "
          f"{RECONCILE_TOL}); wall: cuts {sum(tr.median(c) for c in wl.top_cuts):.3f} s, "
          f"untraced pass {un_s:.3f} s")
    metrics = {
        **layers,
        **engine_metrics(events, "pass", TRACE_PASSES),
        "trace.untraced_docs_per_s": wl.n_docs / un_s,
        "trace.traced_docs_per_s": wl.n_docs / tr_s,
        "trace.overhead_frac": tr_s / un_s - 1.0,
        "trace.reconcile_err": err,
        **_host_summary(untraced),
    }
    return metrics, failed, attempted


def run(args, spec: dict) -> dict:
    from workloads import WORKLOADS

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _env(os.path.join(work, "tmp"))
    wl = WORKLOADS[args.workload](args.seed, work, args.scale)

    t0 = time.perf_counter()
    stats = wl.generate()
    gen_s = time.perf_counter() - t0
    print(f"# workload {args.workload} seed {args.seed} scale {args.scale}: "
          f"{json.dumps(stats)}")
    print(f"# gen_s {gen_s:.3f} (input generation, not part of setup_s)")

    spark, setups, sessions = _setup(wl, work)
    heap_mb = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    print(f"# set-ups {[round(s, 3) for s in setups]} s; process start to first timed "
          f"pass, less gen_s: {time.perf_counter() - T_START - gen_s:.3f} s; driver heap "
          f"{heap_mb:.0f} MB (SPARK_GRAFT_DRIVER_MEM={DRIVER_MEM})")

    if args.trace:
        metrics, failed, attempted = _traced(wl, spark, work)
        metrics.update({"bench.gen_s": gen_s, "session.get_spark_s": sessions[0],
                        "host.driver_heap_mb": heap_mb})
        print("# per-layer")
        for k in sorted(metrics):
            print(f"  {k:32s} {metrics[k]:.6g}")
        want = spec["per_layer"]
    else:
        metrics, failed, attempted = _untraced(wl, spark, args.seconds, setups)
        want = spec["end_to_end"]

    names = {m["name"] for m in want}
    missing, extra = names - set(metrics), set(metrics) - names
    if extra or (missing and not args.trace):
        raise RuntimeError(f"metric set differs from BENCHMARK.json: "
                           f"missing {sorted(missing)}, extra {sorted(extra)}")
    if missing:
        print(f"# not run by this workload (reported as 0): {', '.join(sorted(missing))}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in want},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=1,
                    help="multiply every corpus size (default 1, the benchmark's size)")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import pyspark  # noqa: F401
        import text_extraction_system_spark  # noqa: F401
        from workloads import WORKLOADS
    except (OSError, ImportError) as e:
        print(f"perfbench: cannot run here: {e}", file=sys.stderr)
        return 3
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result = run(args, spec)
    finally:
        _stop_jvm()  # no-op after a clean run; reaps the JVM after a failure
        shutil.rmtree(os.path.join(WORK, args.workload), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
