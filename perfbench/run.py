"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.perfbench/``, starts the engine's session (``get_spark``) on
every core this process may use, cold (a fresh JVM) several times to time
set-up, runs one untimed cold pass that checks every output, then repeats
the workload's cycle of fixed work until ``S`` seconds have passed. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run turns Spark's event log on at JVM launch, labels jobs with job
groups, records spans, and writes them with every per-layer number to
``.perfbench/trace-<workload>-seed<N>.json``. It brackets its traced cycles
with one cycle before and one after that run with the benchmark's own
instrumentation off, for ``trace.overhead``. See ``design.json`` for what
each workload and metric is for.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import resource
import shlex
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")

#: Driver heap. The engine defaults to 24g, more than this class of host
#: has; SPARK_DRIVER_MEMORY is the engine's own override.
DRIVER_MEMORY = "4g"
#: Cold starts per run; setup_s is their median. Each launches a fresh JVM,
#: builds the session and runs one small operation of the workload, which is
#: what a process that uses the engine pays once before its first result.
#: A third would add about 9 s to every run, more than the time budget of a
#: benchmark round (4 + 22 x 2 runs in 3420 s) leaves.
SETUPS = 2


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bound(metric: str) -> float:
    return next(m["bound"] for m in _spec()["end_to_end"]
                if m["name"] == metric)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _configure_env(work_dir: str, cores: int, traced: bool) -> str | None:
    """Everything the JVM reads at launch; must run before it starts."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # No hsperfdata file either: HotSpot writes it under /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    if not traced:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        return None
    log_dir = os.path.join(work_dir, "eventlog")
    os.makedirs(log_dir)
    confs = {"spark.eventLog.enabled": "true",
             "spark.eventLog.dir": f"file://{log_dir}",
             "spark.eventLog.compress": "false",
             "spark.eventLog.rolling.enabled": "false"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        + ["pyspark-shell"])
    return log_dir


def _stop_jvm(spark=None) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits at EOF on its stdin
    proc.wait(timeout=60)


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    work_dir = os.path.join(
        STATE_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        log_dir = _configure_env(work_dir, cores, bool(args.trace))
        return _run_in(args, work_dir, cores, log_dir)
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)


def _cycles(wl, ctx, tally, seconds: float) -> tuple[int, float]:
    """Repeat the workload's cycle until ``seconds`` have passed."""
    t0, n = time.perf_counter(), 0
    while True:
        wl.cycle(ctx, tally, n)
        n += 1
        if time.perf_counter() - t0 >= seconds:
            return n, time.perf_counter() - t0


def _untraced_cycle(wl, ctx, tally):
    """One cycle with the benchmark's instrumentation off, recorded in a
    copy of ``wl`` that shares its inputs but not its samples."""
    ctx.tracer.enabled = False
    try:
        other = copy.copy(wl)
        other.reset()
        _cycles(other, ctx, tally, 0)
        return other
    finally:
        ctx.tracer.enabled = True


def _run_in(args, work_dir, cores, log_dir) -> dict:
    from data_pipeline_eng_project_1_spark import get_spark

    from spans import Tracer
    from workloads import WORKLOADS, Context, Tally

    traced = log_dir is not None
    tracer = Tracer(traced)
    wl = WORKLOADS[args.workload]()
    ctx = Context(None, tracer, work_dir, args.seed)
    with tracer.span("prepare") as prepare:
        wl.prepare(ctx)

    setup_s, start_s, op_s, spark = [], [], [], None
    for k in range(SETUPS):
        if spark is not None:
            _stop_jvm(spark)
        with tracer.span("setup", attempt=k) as s:
            with tracer.span("session.get_spark") as g:
                spark = get_spark("perfbench", cores=cores)
            with tracer.span("setup_op") as o:
                wl.setup_op(spark)
        setup_s.append(s.duration)
        start_s.append(g.duration)
        op_s.append(o.duration)
    ctx.spark = spark
    app_id = spark.sparkContext.applicationId

    tally = Tally()
    with tracer.span("warmup") as warmup:
        wl.warmup(ctx, tally)

    # A traced run brackets its traced cycles with an untraced cycle on
    # each side, so warm-up drift cancels in trace.overhead.
    untraced = [_untraced_cycle(wl, ctx, tally)] if traced else []
    wall0 = time.time()
    with tracer.span("measure") as measure:
        cycles, measure_s = _cycles(wl, ctx, tally, args.seconds)
    wall1 = time.time()
    if traced:
        untraced.append(_untraced_cycle(wl, ctx, tally))

    rss_mb = (_vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
              + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
    _stop_jvm(spark)
    phases = {s.name: round(s.duration, 2)
              for s in (prepare, warmup, measure)}
    print(f"perfbench: {args.workload} phases (s): {phases}, "
          f"cycles: {cycles}", file=sys.stderr)
    for e in tally.errors:
        print(f"perfbench: failed: {e}", file=sys.stderr)

    result = {"correct": tally.failed == 0, "attempted": tally.attempted,
              "failed": tally.failed}
    if not traced:
        values = {"setup_s": median(setup_s), "work_s": wl.work_s()}
        result["metrics"] = {m["name"]: {"value": values[m["name"]],
                                         "unit": m["unit"]}
                             for m in _spec()["end_to_end"]}
        return result
    untraced_work_s = sum(u.work_s() for u in untraced) / len(untraced)
    layer = {
        "session.start_s": median(start_s),
        "session.first_op_s": median(op_s),
        "spark.peak_rss_mb": rss_mb,
        "trace.overhead": wl.work_s() / untraced_work_s,
    }
    run_info = {"cores": cores, "cycles": cycles, "measure_s": measure_s,
                "setup_s": setup_s, "untraced_work_s": untraced_work_s}
    result["metrics"] = _trace_report(args, wl, ctx, log_dir, app_id, tally,
                                      layer, run_info, wall0, wall1)
    return result


def _trace_report(args, wl, ctx, log_dir, app_id, tally, layer, run_info,
                  wall0, wall1) -> dict:
    """Completes ``layer`` from the event log and the workload, writes the
    trace file, and returns every per-layer metric."""
    from spans import event_log_files, parse_event_log, self_times

    # Only the measured session's log: each set-up launched its own JVM.
    log = parse_event_log(event_log_files(log_dir, app_id))
    engine = log.totals(log.jobs_between(wall0 * 1000, wall1 * 1000))
    layer.update({f"spark.{k}": v for k, v in engine.items()
                  if not k.startswith("records_")})
    layer["spark.core_busy"] = engine["task_run_s"] / (
        run_info["measure_s"] * run_info["cores"])
    extra = wl.layer_metrics(ctx, log)
    bases = extra.pop("_bases", {})
    layer.update(extra)

    consistency = None
    if "plans.build_s" in layer:
        untraced = run_info["untraced_work_s"]
        total = layer["plans.build_s"] + layer["plans.exec_s"]
        bound = _bound("work_s")
        consistency = {"build_plus_exec_s": total, "untraced_work_s": untraced,
                       "ratio": total / untraced, "bound": bound,
                       "agrees": abs(total / untraced - 1) <= bound}
        if not consistency["agrees"]:
            print(f"perfbench: plans.build_s + plans.exec_s = {total:.3f} s "
                  f"differs from the untraced work_s {untraced:.3f} s by "
                  f"more than the bound {bound}", file=sys.stderr)
    st = self_times(ctx.tracer.spans)
    self_by_name: dict[str, float] = {}
    for s in ctx.tracer.spans:
        self_by_name[s.name] = self_by_name.get(s.name, 0.0) + st[s.id]
    report = {
        "run_id": ctx.tracer.run_id, "workload": args.workload,
        "seed": args.seed, "seconds": args.seconds,
        "driver_memory": DRIVER_MEMORY, **run_info, "work_s": wl.work_s(),
        "per_layer": layer, "bases": bases, "engine": engine,
        "consistency": consistency, "self_time_s": self_by_name,
        "errors": tally.errors, "spans": ctx.tracer.to_json(),
    }
    path = os.path.join(STATE_DIR,
                        f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}",
          file=sys.stderr)
    # Metrics of layers a workload does not exercise read 0.
    return {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in _spec()["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import data_pipeline_eng_project_1_spark  # noqa: F401 - needs a checkout

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
