"""Spans around the benchmark's calls into each layer, and the Spark-side
counters read after the run.

Spans are always recorded (a clock read and a dict per call); a top-level
span, an operation or read, also records the CPU time the benchmark's
process tree (Spark driver JVM and Python workers included) used during it,
read outside its wall interval. With tracing on, each
span also sets the Spark job group to its id, so every job can be traced
back to the span that caused it, and DataFrames about to run are planned
first inside a ``spark.plan`` span. After the run the counters come
from the status stores over py4j: jobs and stage attempts from
``AppStatusStore``, Python-boundary SQL metrics from ``SQLAppStatusStore``,
and Janino compile counts from ``CodegenMetrics``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from metrics import aggregate_stages, call_site_layer, parse_sql_metric, process_tree_cpu_s

GROUP_PREFIX = "perfbench:"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        cpu0 = process_tree_cpu_s(os.getpid()) if parent is None else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "op": self.spans[parent]["op"] if parent is not None else sid,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if cpu0 is not None:
                rec["cpu"] = process_tree_cpu_s(os.getpid()) - cpu0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def plan(self, df) -> None:
        """Traced runs only: force physical planning of ``df`` in a
        ``spark.plan`` span, so planning time is measured apart from
        execution. The later action plans again, which the tracing overhead
        includes."""
        if self.enabled:
            with self.span("spark.plan", "spark"):
                df._jdf.queryExecution().executedPlan()

    def _set_group(self, sid: int | None) -> None:
        if self.enabled:
            group = "none" if sid is None else str(sid)
            self.sc.setJobGroup(GROUP_PREFIX + group, group)

    def subtree(self, root: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == self.spans[root]["op"]]


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkCounters:
    """Reads the driver JVM's status stores and codegen metrics. ``mark``
    before the measured section lets the readers skip everything set-up
    ran: job and SQL execution ids are sequential, so only the entries
    past the mark are fetched over py4j."""

    # Plan nodes that run Python workers (batch and Arrow UDFs, pandas maps).
    PYTHON_NODES = ("Python", "Pandas", "Arrow")

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.job_mark = self.sql_mark = 0

    def mark(self) -> None:
        self.job_mark = int(self.store.jobsList(None).size())
        self.sql_mark = int(self.sql.executionsCount())

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile seconds) since JVM start. The compile
        time histogram keeps every sample up to 1028; past that the total is
        count × reservoir mean."""
        h = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        n = int(h.getCount())
        return n, n * float(h.getSnapshot().getMean()) / 1e3

    def jobs(self) -> list[dict]:
        out = []
        for j in _seq(self.jvm, self.store.jobsList(None)):
            job_id = int(j.jobId())
            if job_id < self.job_mark:
                continue
            out.append({
                "job_id": job_id,
                "group": _opt(j.jobGroup()),
                "name": str(j.name()),
                "stage_ids": [int(s) for s in _seq(self.jvm, j.stageIds())],
            })
        return out

    def stages(self, stage_ids: set[int]) -> list[dict]:
        """Every attempt of the stages in ``stage_ids``."""
        gw = self.spark.sparkContext._gateway
        rows = self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            gw.new_array(self.jvm.double, 0), self.jvm.java.util.ArrayList(),
        )
        out = []
        for s in _seq(self.jvm, rows):
            sid = int(s.stageId())
            if sid not in stage_ids:
                continue
            out.append({
                "stage_id": sid,
                "status": str(s.status().toString()),
                "tasks": int(s.numCompleteTasks()),
                "executor_run_ms": int(s.executorRunTime()),
                "executor_cpu_ns": int(s.executorCpuTime()),
                "jvm_gc_ms": int(s.jvmGcTime()),
                "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                "shuffle_read_bytes": int(s.shuffleReadBytes()),
                "memory_spilled_bytes": int(s.memoryBytesSpilled()),
                "disk_spilled_bytes": int(s.diskBytesSpilled()),
                "input_records": int(s.inputRecords()),
            })
        return out

    def python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Python plan-node SQL metrics summed over the SQL executions that
        ran any of ``job_ids``."""
        names = {
            "data sent to Python workers": "to_worker_bytes",
            "data returned from Python workers": "from_worker_bytes",
            "time to run Python workers": "worker_run_s",
        }
        out = dict.fromkeys(names.values(), 0.0)
        total = int(self.sql.executionsCount())
        for e in _seq(self.jvm, self.sql.executionsList(self.sql_mark, total - self.sql_mark)):
            jobs = {int(j) for j in _seq(self.jvm, e.jobs().keys().toSeq())}
            if not jobs & job_ids:
                continue
            eid = e.executionId()
            values = None
            for node in _seq(self.jvm, self.sql.planGraph(eid).allNodes()):
                if not any(k in str(node.name()) for k in self.PYTHON_NODES):
                    continue
                values = values if values is not None else self.sql.executionMetrics(eid)
                for m in _seq(self.jvm, node.metrics()):
                    key = names.get(str(m.name()))
                    if key is None:
                        continue
                    v = _opt(values.get(m.accumulatorId()))
                    if v:
                        out[key] += parse_sql_metric(str(v))
        return out


def job_layer_fn(tracer: Tracer, measured_ops: set[int]):
    """Layer of a job: its call site's module when that is a layer module,
    else the layer of the span whose group it ran under. Jobs outside the
    measured ops (set-up, checks) map to None."""
    def layer_of(job: dict) -> str | None:
        g = job["group"] or ""
        if not g.startswith(GROUP_PREFIX) or not g[len(GROUP_PREFIX):].isdigit():
            return None
        span = tracer.spans[int(g[len(GROUP_PREFIX):])]
        if span["op"] not in measured_ops:
            return None
        return call_site_layer(job["name"]) or span["layer"]
    return layer_of


def per_layer_counters(tracer: Tracer, jobs: list[dict], stages: list[dict], measured_ops: set[int]):
    """(per-layer stage totals, ids of the jobs the measured ops ran)."""
    layer_of = job_layer_fn(tracer, measured_ops)
    by_layer = aggregate_stages(jobs, stages, layer_of)
    return by_layer, {j["job_id"] for j in jobs if layer_of(j) is not None}
