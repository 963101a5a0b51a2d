"""Pure helpers of the benchmark runner: percentiles, self times, output
fingerprints, status-store aggregation and host-noise records.

Nothing here imports Spark, so the unit tests in ``test_helpers.py`` run
without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics

# Percentiles a tail may be reported at, highest first. Nothing below p90
# counts as a tail: a smaller sample reports its maximum instead.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile ``p`` in ``n`` samples (1-based); rounding
    first keeps float error from pushing an exact rank one up."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least ``p``% of
    the sample at or below it)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile that leaves at least ten samples beyond
    it in a sample of ``n``; None when the sample is too small for any."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[float, str]:
    """``(value, label)`` of the reported tail. Below 100 samples no ladder
    percentile has ten beyond it; the maximum is reported then, and the
    label says so."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), f"max (n={len(values)}: no percentile from p90 up has {MIN_BEYOND} beyond)"
    return percentile(values, p), f"p{p:g} (n={len(values)})"


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the part of its interval its
    direct children cover (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [(max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], []) if b > lo and a < hi]
        out[s["id"]] = (hi - lo) - _covered(clipped)
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of span self times per layer."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


# ---------------------------------------------------------------------------
# output fingerprints (same normalization as tools/check_correctness.py)
# ---------------------------------------------------------------------------


def norm_cell(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    normalized cell by cell and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    return h.hexdigest()


def pandas_hash(df) -> str:
    """``frame_hash`` of a pandas frame."""
    return frame_hash(list(df.columns), list(df.itertuples(index=False, name=None)))


# ---------------------------------------------------------------------------
# status-store aggregation
# ---------------------------------------------------------------------------

STAGE_COUNTERS = (
    "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_rows",
)


def aggregate_stages(
    jobs: list[dict], stages: list[dict], layer_of_job
) -> dict[str, dict[str, float]]:
    """Per-layer totals of job and stage counters.

    ``jobs``: ``{"job_id", "group", "name", "stage_ids"}``; ``stages``: one
    dict per stage attempt with ``stage_id``, ``status`` and the raw counters
    (``executor_run_ms``, ``executor_cpu_ns``, ``jvm_gc_ms``, byte counts,
    ``input_records``, ``tasks``). ``layer_of_job(job)`` returns a layer name
    or None for jobs outside the measured ops. A stage that several jobs list
    ran in the first of them (the later ones skip it), so its counters go to
    the lowest job id's layer; skipped attempts carry no work and are ignored.
    """
    owner: dict[int, dict] = {}
    out: dict[str, dict[str, float]] = {}
    for j in sorted(jobs, key=lambda j: j["job_id"]):
        layer = layer_of_job(j)
        if layer is None:
            continue
        out.setdefault(layer, _zero())["jobs"] += 1
        for sid in j["stage_ids"]:
            owner.setdefault(sid, j)
    mb = 1024.0 * 1024.0
    for s in stages:
        if s["status"] == "SKIPPED" or s["stage_id"] not in owner:
            continue
        layer = layer_of_job(owner[s["stage_id"]])
        acc = out.setdefault(layer, _zero())
        acc["tasks"] += s["tasks"]
        acc["executor_run_s"] += s["executor_run_ms"] / 1e3
        acc["executor_cpu_s"] += s["executor_cpu_ns"] / 1e9
        acc["jvm_gc_s"] += s["jvm_gc_ms"] / 1e3
        acc["shuffle_write_mb"] += s["shuffle_write_bytes"] / mb
        acc["shuffle_read_mb"] += s["shuffle_read_bytes"] / mb
        acc["spill_mb"] += (s["memory_spilled_bytes"] + s["disk_spilled_bytes"]) / mb
        acc["input_rows"] += s["input_records"]
    return out


def _zero() -> dict[str, float]:
    return {"jobs": 0, **{k: 0 for k in STAGE_COUNTERS}}


# Module -> layer for job call sites inside the package.
MODULE_LAYERS = {
    "operators/engine.py": "engine",
    "operators/stats.py": "stats",
    "operators/drift.py": "drift",
    "operators/sketches.py": "sketches",
    "checkpoints/manifest.py": "checkpoints",
    "checkpoints/incremental.py": "checkpoints",
    "queries.py": "queries",
    "operators/dedup.py": "dedup",
    "operators/similarity.py": "similarity",
    "operators/textquality.py": "textquality",
}


def call_site_layer(job_name: str) -> str | None:
    """Layer of a job whose call site (``"<action> at <file>:<line>"``) lies
    in one of the package modules that name a layer."""
    _, _, where = job_name.partition(" at ")
    path = where.rsplit(":", 1)[0].replace(os.sep, "/")
    marker = "prompture_spark/"
    if marker not in path:
        return None
    return MODULE_LAYERS.get(path.split(marker, 1)[1])


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: bytes for size metrics, seconds for
    timing metrics. The status store renders totals as the first token of
    the last line, e.g. ``"total (min, med, max ...)\\n8.4 KiB (2.1 KiB, ...)"``
    or a bare ``"12"``."""
    last = text.strip().splitlines()[-1].split(" (")[0].strip()
    parts = last.split()
    value = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return value
    unit = parts[1]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    raise ValueError(f"unknown SQL metric unit in {text!r}")


# ---------------------------------------------------------------------------
# process CPU time
# ---------------------------------------------------------------------------


def stat_cpu_ticks(stat_text: str) -> tuple[int, int]:
    """``(ppid, ticks)`` from a ``/proc/<pid>/stat`` line, where ticks is
    user + system time of the process and of its reaped children."""
    fields = stat_text.rsplit(")", 1)[1].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_ticks(stats: dict[int, tuple[int, int]], root: int) -> int:
    """Ticks of ``root`` and every live descendant, from ``{pid: (ppid,
    ticks)}``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(kids.get(pid, ()))
    return total


def process_tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and its descendants (the
    Spark driver JVM and the Python workers it forks). Idle time is not in
    it, so host contention moves it far less than wall time: a burst of 20%
    CPU steal stretched runs by about half and their CPU time by a fifth."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stats[int(name)] = stat_cpu_ticks(f.read())
            except (OSError, IndexError, ValueError):
                continue  # exited while scanning
    return tree_cpu_ticks(stats, root) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# host noise
# ---------------------------------------------------------------------------


def read_cpu_times(stat_text: str) -> dict[str, int]:
    """Aggregate ``cpu`` line of /proc/stat as named jiffy counters."""
    for line in stat_text.splitlines():
        if line.startswith("cpu "):
            f = [int(x) for x in line.split()[1:]]
            f += [0] * (8 - len(f))
            return {"busy": f[0] + f[1] + f[2] + f[5] + f[6], "idle": f[3] + f[4], "steal": f[7],
                    "total": sum(f[:8])}
    raise ValueError("no aggregate cpu line")


def host_sample() -> dict:
    with open("/proc/loadavg") as f:
        load = f.read().split()
    with open("/proc/stat") as f:
        cpu = read_cpu_times(f.read())
    return {"load1": float(load[0]), "load5": float(load[1]), "cpu": cpu}


def host_noise(start: dict, end: dict, ncpu: int) -> dict:
    """Record of host load around a run. ``busy`` flags a run the host
    disturbed: CPU steal above 5% of the interval, or a 1-minute load above
    1.5 runnable tasks per core before the run started."""
    d = {k: end["cpu"][k] - start["cpu"][k] for k in ("steal", "total")}
    steal_pct = 100.0 * d["steal"] / d["total"] if d["total"] else 0.0
    busy = steal_pct > 5.0 or start["load1"] > 1.5 * ncpu
    return {
        "load_start": [start["load1"], start["load5"]],
        "load_end": [end["load1"], end["load5"]],
        "steal_pct": round(steal_pct, 3),
        "busy": busy,
    }
