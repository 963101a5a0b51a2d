"""Benchmark runner for the transcript validation engine.

    python3 perfbench/run.py --workload incremental_chain --seed 1 --seconds 30 --trace 0

Run from the repository root. One process runs one workload on
``local[<cores>]``: it starts a Spark session, sets up (restoring cached
seeded inputs, three times, timing each), then runs as many whole units of
work as fit in ``--seconds`` (at least one), checking every output. It prints a summary and, as its last line, one JSON object with the
metrics. Workloads: ``incremental_chain`` and ``curation_leaves`` (see
``workloads.py``).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` adds Spark job
groups per span and planning spans, and reports per-layer metrics read from
the status stores; it also writes the spans and counters under
``.bench_work/trace/``. Everything the run writes stays under
``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

SETUP_REPS = 3
MODULE_LAYERS = tuple(dict.fromkeys(M.MODULE_LAYERS.values()))


class Ctx:
    def __init__(self, args, spark, tracer, ncpu):
        self.spark, self.tracer, self.ncpu = spark, tracer, ncpu
        self.seed = args.seed
        self.work = os.path.join(ROOT, ".bench_work", "run")
        self.cache = os.path.join(ROOT, ".bench_work", "cache")


def _env(work: str) -> None:
    """Keep every file Spark and its Python workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _start_spark(ncpu: int, work: str):
    from prompture_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{ncpu}]",
        shuffle_partitions=ncpu,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


def _setup(workload) -> dict:
    """Set-up repeated SETUP_REPS times: restore a fresh copy of the cached
    inputs and state each time; the first may build the cache."""
    reps, hits = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        workload.prepare()
        reps.append(time.perf_counter() - t0)
        hits.append(workload.cache_hit)
    return {"prepare_s": reps, "cache_hits": hits}


def _measure(workload, seconds: float):
    """Run whole units for as long as the next one, taking as long as the
    last, still ends within ``seconds``; at least one. Returns (unit walls,
    unit CPU seconds, ops, failed units)."""
    units, unit_cpu, ops, failed = [], [], [], 0
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        try:
            got = workload.unit()
        except Exception:
            traceback.print_exc()
            failed += 1
        else:
            units.append(sum(o.wall + o.read for o in got))
            unit_cpu.append(sum(o.cpu for o in got))
            ops.extend(got)
        now = time.perf_counter()
        if failed >= 3 or now - t_start + (now - t0) > seconds:
            return units, unit_cpu, ops, failed


def _as_metrics(values: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def op_metrics(setup: dict, session_s: float, units, unit_cpu, ops, primary: str,
               rss_mb: float) -> tuple[dict, dict, str]:
    """(end-to-end metrics, run metrics reported with the per-layer ones,
    tail label). Only set-up time and CPU seconds carry a bound: on a shared
    host, bursts of CPU steal stretch the wall times of whole runs by half,
    which moves CPU time by a fifth at most. Wall times, the tail (a single
    op at this sample size), the read after each op and the JVM's peak RSS
    are reported unbounded."""
    walls = [o.wall for o in ops if o.kind == primary]
    tail_v, tail_label = M.tail(walls)
    e2e = {
        "setup_s": (session_s + M.median(setup["prepare_s"]), "s"),
        "cpu_s": (M.median(unit_cpu), "s"),
    }
    run = {
        "wall_s": (M.median(units), "s"),
        "op_s_p50": (M.median(walls), "s"),
        "op_s_tail": (tail_v, "s"),
        "read_s_p50": (M.median([o.read for o in ops]), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    return e2e, run, tail_label


def per_layer(tracer, counters, ops, codegen_delta, ratios: dict, primary: str) -> tuple[dict, dict]:
    """Per-layer metrics of the measured ops, plus the detail written to the
    trace file. Counters are per measured op; time splits are shares, so a
    layer a workload never calls reads 0% rather than a constant time."""
    from spans import per_layer_counters

    measured = {o.span for o in ops} | {o.read_span for o in ops}
    measured_spans = [s for s in tracer.spans if s["op"] in measured]
    self_by_layer = M.layer_self_times(measured_spans)
    wall = sum(o.wall + o.read for o in ops)
    jobs = counters.jobs()
    stages = counters.stages({sid for j in jobs for sid in j["stage_ids"]})
    by_layer, job_ids = per_layer_counters(tracer, jobs, stages, measured)
    py = counters.python_metrics(job_ids)
    step_layers, _ = per_layer_counters(tracer, jobs, stages, {o.span for o in ops if o.kind == primary})

    def total(key, layers=by_layer):
        return sum(v[key] for v in layers.values())

    def pct(part, whole):
        return 100 * part / whole if whole else 0.0

    n = len(ops)
    run_s, cpu_s = total("executor_run_s"), total("executor_cpu_s")
    out = {}
    for layer in MODULE_LAYERS:
        c = by_layer.get(layer, M._zero())
        out.update({
            f"{layer}.jobs": (c["jobs"] / n, "count"),
            f"{layer}.tasks": (c["tasks"] / n, "count"),
            f"{layer}.self_pct": (pct(self_by_layer.get(layer, 0.0), wall), "%"),
            f"{layer}.exec_pct": (pct(c["executor_run_s"], run_s), "%"),
            f"{layer}.cpu_pct": (pct(c["executor_cpu_s"], cpu_s), "%"),
            f"{layer}.gc_pct": (pct(c["jvm_gc_s"], run_s), "%"),
            f"{layer}.shuffle_write_mb": (c["shuffle_write_mb"] / n, "MB"),
            f"{layer}.shuffle_read_mb": (c["shuffle_read_mb"] / n, "MB"),
            f"{layer}.spill_mb": (c["spill_mb"] / n, "MB"),
            f"{layer}.input_rows": (c["input_rows"] / n, "count"),
        })
    plan_s = sum(s["end"] - s["start"] for s in measured_spans if s["name"] == "spark.plan")
    edited = ratios.get("checkpoints.edited_rows", 0)
    out.update({
        "spark.jobs_per_op": (len(job_ids) / n, "count"),
        "spark.tasks_per_op": (total("tasks") / n, "count"),
        "spark.executor_run_s": (run_s / n, "s"),
        "spark.executor_cpu_s": (cpu_s / n, "s"),
        "spark.gc_pct": (pct(total("jvm_gc_s"), run_s), "%"),
        "spark.plan_s": (plan_s / n, "s"),
        "spark.codegen_compile_s": (codegen_delta[1] / n, "s"),
        "spark.codegen_classes": (codegen_delta[0] / n, "count"),
        "spark.self_pct": (pct(self_by_layer.get("spark", 0.0), wall), "%"),
        "python.to_worker_mb": (py["to_worker_bytes"] / 2 ** 20 / n, "MB"),
        "python.from_worker_mb": (py["from_worker_bytes"] / 2 ** 20 / n, "MB"),
        "python.worker_run_s": (py["worker_run_s"] / n, "s"),
        "checkpoints.revalidated_per_changed": (
            ratios.get("checkpoints.revalidated_per_changed", 0.0), "ratio"),
        "checkpoints.input_rows_per_changed_row": (
            total("input_rows", step_layers) / edited if edited else 0.0, "ratio"),
        "trace.unattributed_pct": (pct(self_by_layer.get("bench", 0.0), wall), "%"),
    })
    detail = {"self_s": self_by_layer, "stages": by_layer, "python": py, "op_wall_s": wall}
    return out, detail


def reconcile_lines(tracer, ops) -> list[str]:
    """Per op: wall time against the sum of its layer self times."""
    lines = []
    for o in ops:
        spans = tracer.subtree(o.span)
        by_layer = M.layer_self_times(spans)
        total = sum(by_layer.values())
        glue = by_layer.get("bench", 0.0)
        top = ", ".join(f"{k}={v:.3f}" for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1]) if v >= 0.001)
        lines.append(f"  {tracer.spans[o.span]['name']:<38} wall={o.wall:.3f}s layers={total:.3f}s "
                     f"unattributed={glue:.3f}s ({100 * glue / o.wall:.1f}%)  [{top}]")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "prompture_spark")):
        print(f"perfbench: no prompture_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    ncpu = len(os.sched_getaffinity(0))
    host_start = M.host_sample()
    work = os.path.join(ROOT, ".bench_work")
    _env(work)

    from spans import SparkCounters, Tracer

    t0 = time.perf_counter()
    spark = _start_spark(ncpu, work)
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up, as bench.py does
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(args, spark, tracer, ncpu)
        counters = SparkCounters(spark)
        workload = WORKLOADS[args.workload](ctx)
        setup = _setup(workload)
        if args.trace:
            counters.mark()
        codegen0 = counters.codegen()
        units, unit_cpu, ops, unit_failures = _measure(workload, args.seconds)
        codegen1 = counters.codegen()
        rss_mb = _vm_hwm_mb(counters.jvm_pid())
        if not ops:
            print("perfbench: no operation completed", file=sys.stderr)
            return 1
        e2e, run_metrics, tail_label = op_metrics(setup, session_s, units, unit_cpu, ops,
                                                  workload.primary, rss_mb)
        layers = detail = None
        if args.trace:
            delta = (codegen1[0] - codegen0[0], codegen1[1] - codegen0[1])
            t_collect = time.perf_counter()
            layers, detail = per_layer(tracer, counters, ops, delta, workload.ratios(),
                                      workload.primary)
            collect_s = time.perf_counter() - t_collect
            recon = reconcile_lines(tracer, ops)
    finally:
        _stop_spark(spark)
    host = M.host_noise(host_start, M.host_sample(), ncpu)

    failed = unit_failures + sum(not o.ok for o in ops)
    attempted = len(ops) + unit_failures
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} local[{ncpu}] "
          f"units={len(units)} ops={len(ops)}")
    print(f"setup: session={session_s:.3f}s prepare={[round(x, 3) for x in setup['prepare_s']]} "
          f"cache_hits={setup['cache_hits']}")
    print(f"op_s_p50 and op_s_tail are over the {workload.primary} ops; op_s_tail is {tail_label}; "
          f"failed_ratio={failed / attempted:.4f} ({failed}/{attempted})")
    for kind in sorted({o.kind for o in ops} - {workload.primary}):
        print(f"{kind} ops: wall {[round(o.wall, 3) for o in ops if o.kind == kind]} s")
    print(f"host: load {host['load_start']} -> {host['load_end']}, steal {host['steal_pct']}%"
          + ("  BUSY HOST: treat these numbers with care" if host["busy"] else ""))
    for k, (v, u) in {**e2e, **run_metrics}.items():
        print(f"  {k:<14} {v:>14.4f} {u}")

    results_dir = os.path.join(work, "results")
    os.makedirs(results_dir, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": _as_metrics(e2e), "run": _as_metrics(run_metrics),
              "tail": tail_label, "host": host, "setup": setup,
              "session_s": session_s, "ops": [[o.kind, o.wall, o.read, o.ok] for o in ops]}
    metrics = record["end_to_end"]
    if args.trace:
        print(f"status-store counters read in {collect_s:.1f}s")
        print("per-op reconciliation (layer self times vs op wall):")
        for line in recon:
            print(line)
        base = os.path.join(results_dir, f"{args.workload}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                rec = json.load(f)
            before, now = {**rec["end_to_end"], **rec["run"]}, {**e2e, **run_metrics}
            for k in ("wall_s", "op_s_p50", "cpu_s"):
                over = 100 * (now[k][0] / before[k]["value"] - 1)
                print(f"tracing overhead on {k}: {over:+.1f}% against the last untraced run")
        metrics = _as_metrics({**layers, **run_metrics})
        record["per_layer"] = metrics
        trace_dir = os.path.join(work, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "detail": detail, **record}, f)
    with open(os.path.join(results_dir, f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
