#!/usr/bin/env python3
"""The engine benchmark: one workload per run, on ``local[N]`` with
N = min(4, cores), from the root of a checkout:

    python3 perfbench/run.py --workload iterative_build --seed 1 --seconds 28 --trace 0

Workloads (see workloads.py): ``census_etl`` and ``iterative_build``. A
run creates the session and makes one warm pass over the workload's ops
(set-up), then runs whole seeded passes of closed-loop ops for about
``--seconds``, at least ``MIN_PASSES`` of them. Every op's output is
checked, untimed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
Spark job groups, layer spans and a Spark event log, and prints the
per-layer metrics. Either way the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Inputs are made under ``perfbench/.work`` in the checkout: the sf0.1
lake once (fixed data, seed 42), the DuckDB oracle digests once, the
census base set once (52 states exported from seed-42 responses), and the
census responses per run from ``--seed``. Spark's scratch files go there
too.
"""

from __future__ import annotations

import argparse
import fileinput
import glob
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = min(4, os.cpu_count() or 1)
# Throughput is taken from the median pass, so one pass slowed by the host
# (or by the JVM still compiling hot paths) does not move it. A pass of
# either workload takes 5-9 s on 4 cores; with the set-up's ~30 s, three
# passes keep a run near a minute.
MIN_PASSES = 3

END_TO_END = {"setup_s": "s", "ops_per_s": "op/s", "latency_p50_s": "s"}
# Per-layer metrics in the JSON result: each op's build and exec phase,
# averaged per timed op. Every time here is non-zero on every workload;
# the layer-specific ones are printed by layer_report.
PHASE_KEYS = {
    "build": ("wall_s", "jobs", "stages", "tasks", "py_cpu_s", "wait_s"),
    "exec": ("wall_s", "catalyst_ms", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failed_tasks"),
}
UNITS = {"s": "s", "ms": "ms", "mb": "MB", "bytes": "B"}


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("ops_per_s"):
        return "op/s"
    suffix = re.split(r"[._]", name)[-1]
    return UNITS.get(suffix, "count")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs-only", action="store_true",
                    help="build the workload's Spark-made inputs and exit (run in a child "
                         "process the first time a checkout needs them)")
    return ap.parse_args(argv)


def isolate_scratch(run_dir: str, trace: bool) -> str:
    """Point every scratch directory (Python, JVM, Spark) into this run's
    directory, and turn on the event log for a traced run; return the event
    log directory. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "eventlog")
    for d in (tmp, events, os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{events}",
                 "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return events


def stop_spark() -> None:
    """Stop the Spark context and the JVM this process started, and wait
    for the JVM to exit. A no-op when none is running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "census_data_pipeline_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads as wls

    if args.workload not in wls.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wls.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = wls.WORKLOADS[args.workload]()
    if not args.inputs_only and not wl.inputs_ready(WORK):
        subprocess.run([sys.executable, os.path.abspath(__file__), *argv, "--inputs-only"],
                       check=True, stdout=sys.stderr)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        if args.inputs_only:
            return build_inputs(args, wl, run_dir)
        return bench(args, wl, run_dir)
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)


def build_inputs(args, wl, run_dir: str) -> int:
    import datagen
    import tracing as tr
    import workloads as wls
    from census_data_pipeline_spark.session import get_spark

    isolate_scratch(run_dir, False)
    lake = datagen.ensure_lake(WORK)
    spark = get_spark(app_name=f"perfbench-{args.workload}-inputs",
                      master=f"local[{CORES}]", shuffle_partitions=CORES)
    wl.build_inputs(wls.Run(spark, tr.Tracer(False), lake, run_dir, WORK,
                            args.workload, args.seed))
    return 0


def bench(args, wl, run_dir: str) -> int:
    import checks
    import datagen
    import tracing as tr
    import workloads as wls

    events_dir = isolate_scratch(run_dir, bool(args.trace))
    lake = datagen.ensure_lake(WORK)

    # -- set-up: session, package shipping, one warm pass ---------------
    t_setup = time.perf_counter()
    import census_data_pipeline_spark.plans  # noqa: F401  (importing is set-up)
    from census_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    cache = checks.OracleCache(WORK, lake)
    oracles = {}
    for make in wls.WORKLOADS.values():
        oracles.update(make().oracles())
    cache.fill(oracles)  # DuckDB, first run in a checkout only
    oracle_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{CORES}]", shuffle_partitions=CORES)
    session_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = tr.Tracer(bool(args.trace), spark.sparkContext)
    run = wls.Run(spark, tracer, lake, run_dir, WORK, args.workload, args.seed)
    run.untimed_s = oracle_s
    wl.prepare(run, cache)
    passes = wl.passes(random.Random(args.seed))

    failures: list[str] = []
    latencies: list[float] = []
    timed_ops: set[str] = set()
    op_latency: dict[str, list[float]] = {}
    counter = 0

    def do_op(name: str, timed: bool) -> None:
        nonlocal counter
        counter += 1
        op = f"{name}#{counter}"
        t = time.perf_counter()
        try:
            with run.span("op", op):
                result = wl.run_op(run, name, op)
            bad = None
        except Exception:  # a failed op is counted and the loop goes on
            bad = {name: f"raised {traceback.format_exc(limit=3)}"}
        lat = time.perf_counter() - t
        if timed:
            latencies.append(lat)
            timed_ops.add(op)
            op_latency.setdefault(name.split(":")[0], []).append(lat)
        if bad is None:
            with run.untimed():
                try:
                    bad = wl.check(run, name, result)
                except Exception:
                    bad = {name: f"check raised {traceback.format_exc(limit=3)}"}
        failures.extend(f"{op} [{k}]: {v}" for k, v in bad.items())

    u0 = run.untimed_s
    t0 = time.perf_counter()
    warm_ops = next(passes)
    for name in warm_ops:
        do_op(name, timed=False)
    warm_s = time.perf_counter() - t0 - (run.untimed_s - u0)
    setup_s = time.perf_counter() - t_setup - run.untimed_s

    # -- timed section: whole passes, closed loop -------------------------
    layer_setup = {k: len(v) for k, v in run.layer.items()}
    u0 = run.untimed_s
    t0 = time.perf_counter()
    pass_s: list[float] = []
    while True:
        elapsed = time.perf_counter() - t0 - (run.untimed_s - u0)
        if len(pass_s) >= MIN_PASSES and elapsed + statistics.mean(pass_s) / 2 >= args.seconds:
            break
        for name in next(passes):
            do_op(name, timed=True)
        pass_s.append(time.perf_counter() - t0 - (run.untimed_s - u0) - elapsed)
        print(f"# pass {len(pass_s)}: {pass_s[-1]:.3f} s", file=sys.stderr)
    timed_s = time.perf_counter() - t0 - (run.untimed_s - u0)
    peak_rss_mb = (tr.read_vm_hwm_kb() + tr.read_vm_hwm_kb(jvm_pid)) / 1024
    stop_spark()

    lat = tr.latency_summary(latencies)
    ops_per_pass = len(warm_ops)
    attempted = ops_per_pass + len(latencies)
    end_to_end = {
        "setup_s": setup_s,
        "ops_per_s": ops_per_pass / statistics.median(pass_s),
        "latency_p50_s": lat["p50_s"],
    }
    tail_name = f"p{lat['tail_pct']}" if lat["tail_pct"] < 100 else "max: 20 samples or fewer"
    out = sys.stdout
    print(f"# workload {args.workload} seed {args.seed} local[{CORES}] "
          f"timed {timed_s:.2f} s, {len(pass_s)} passes, {len(latencies)} ops", file=out)
    notes = {
        "ops_per_s": f"(median of {len(pass_s)} passes; "
                     f"{len(latencies) / timed_s:.4f} op/s over the whole timed section)",
        "latency_p50_s": f"(n={lat['n']})",
    }
    for k, v in end_to_end.items():
        print(f"{k} = {v:.4f} {END_TO_END[k]}  {notes.get(k, '')}", file=out)
    # Printed, not bounded: at this run length there are at most ~25 samples,
    # so the tail is at most p60, from ten samples, or the maximum; and peak
    # RSS does not repeat within a tenth between runs (JVM heap growth).
    print(f"latency_tail_s = {lat['tail_s']:.4f} s  ({tail_name}, n={lat['n']})", file=out)
    print(f"peak_rss_mb = {peak_rss_mb:.1f} MB  (driver Python + driver JVM VmHWM)", file=out)
    print(f"failed_frac = {len(failures) / attempted:.4f} ratio  "
          f"({len(failures)} of {attempted} ops)", file=out)
    for name, v in sorted(op_latency.items()):
        print(f"# op {name}: n={len(v)} median {statistics.median(v):.4f} s "
              f"min {min(v):.4f} s max {max(v):.4f} s", file=out)
    for f in failures:
        print(f"# FAILED {f}", file=out)

    metrics = end_to_end
    if args.trace:
        spans = tracer.spans
        tracer.dump(os.path.join(WORK, f"spans_{args.workload}_{args.seed}.jsonl"))
        task = read_event_log(tr, events_dir)
        layer = {k: v[layer_setup.get(k, 0):] for k, v in run.layer.items()}
        metrics = {"session.start_s": session_start_s, "session.warm_s": warm_s}
        metrics.update(phase_metrics(spans, task, timed_ops, layer))
        metrics.update(functions_metrics(spans, task, timed_ops))
        metrics["trace.ops_per_s"] = end_to_end["ops_per_s"]
        metrics["driver.peak_rss_mb"] = peak_rss_mb
        for k, v in metrics.items():
            print(f"{k} = {v:.4f} {unit_of(k)}", file=out)
        for k, v in sorted(layer_report(tr, spans, task, timed_ops, layer).items()):
            per = "" if k.endswith("_per_file") else "  (per op)"
            print(f"{k} = {v:.4f} {unit_of(k)}{per}", file=out)

    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def _phase_of(spans: list[dict], i: int | None) -> str | None:
    while i is not None:
        if spans[i]["phase"]:
            return spans[i]["phase"]
        i = spans[i]["parent"]
    return None


def read_event_log(tr, events_dir: str) -> dict:
    """Task metrics per job group from the run's event log. Spark 4 writes
    it as a directory of rolled ``events_<n>_<app>`` files."""
    paths = glob.glob(os.path.join(events_dir, "**", "events_*"), recursive=True)
    paths.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    with fileinput.input(paths) as lines:
        return tr.parse_event_log(lines)


def _grouped(spans, timed_ops):
    """(phase, span) for each timed span that set a Spark job group."""
    for i, s in enumerate(spans):
        if s["op"] in timed_ops and s["group"]:
            yield _phase_of(spans, i), s


def phase_metrics(spans, task, timed_ops, layer) -> dict:
    """The per-layer metrics of the JSON result: each op's build and exec
    phase, per timed op."""
    acc = {f"{p}.{k}": 0.0 for p, keys in PHASE_KEYS.items() for k in keys}
    for s in spans:
        if s["op"] in timed_ops and s["phase"]:
            acc[f"{s['phase']}.wall_s"] += s["end"] - s["start"]
            if s["phase"] == "build":
                acc["build.py_cpu_s"] += s["cpu_s"]
    for p, s in _grouped(spans, timed_ops):
        for k in ("jobs", "stages", "tasks"):
            acc[f"{p}.{k}"] += s[k]
        for k, v in task.get(s["group"], {}).items():
            if k != "tasks" and f"{p}.{k}" in acc:
                acc[f"{p}.{k}"] += v
    acc["build.wait_s"] = acc["build.wall_s"] - acc["build.py_cpu_s"]
    acc["exec.catalyst_ms"] = sum(layer.get("exec.catalyst_ms", []))
    return {k: v / len(timed_ops) for k, v in acc.items()}


def functions_metrics(spans, task, timed_ops) -> dict:
    """Per timed call into ``functions`` (the forced-distributed operator):
    wall time, its Spark jobs and stages, task run time and shuffle written.
    All 0 on a workload that makes no such call."""
    calls = [s for s in spans if s["op"] in timed_ops and s["name"] == "functions"]
    n = max(1, len(calls))
    out = {
        "functions.call_s": sum(s["end"] - s["start"] for s in calls) / n,
        "functions.call_jobs": sum(s["jobs"] for s in calls) / n,
        "functions.call_stages": sum(s["stages"] for s in calls) / n,
    }
    for k in ("task_run_s", "shuffle_write_mb"):
        out[f"functions.{k}"] = sum(task.get(s["group"], {}).get(k, 0.0) for s in calls) / n
    return out


def layer_report(tr, spans, task, timed_ops, layer) -> dict:
    """Per-layer self time, Spark jobs and tasks, GC time, and the
    layer-specific notes, per timed op (printed, not in the JSON result).
    ``<layer>.self_jobs`` / ``.self_tasks`` count the jobs of the layer's
    own job group, not those of the child spans that set their own."""
    n = len(timed_ops)
    out = {f"{k}.self_s": v / n for k, v in tr.self_times(spans, timed_ops).items()}
    for p, s in _grouped(spans, timed_ops):
        m = task.get(s["group"], {})
        for k, v in (("self_jobs", s["jobs"]), ("self_tasks", s["tasks"])):
            out[f"{s['name']}.{k}"] = out.get(f"{s['name']}.{k}", 0.0) + v / n
        for k in (f"{p}.jvm_gc_s", f"{p}.task_run_s"):
            out[k] = out.get(k, 0.0) + m.get(k.split(".")[1], 0.0) / n
    for k, v in layer.items():
        if k != "exec.catalyst_ms":
            out[k] = sum(v) / n
    if layer.get("sources.exporters.files"):
        out["sources.exporters.rows_per_file"] = (
            sum(layer["sources.exporters.rows"]) / sum(layer["sources.exporters.files"]))
    return out


if __name__ == "__main__":
    sys.exit(main())
