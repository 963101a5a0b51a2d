"""Unit tests for the benchmark runner's pure helpers (no JVM needed).

    python3 -m pytest perfbench/test_helpers.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402
from spans import GROUP_PREFIX, job_layer_fn  # noqa: E402

# --- tail-percentile rule ---------------------------------------------------


@pytest.mark.parametrize("n,expected", [
    (1, None), (18, None), (99, None),   # below 100 samples p90 leaves < 10 beyond
    (100, 90.0),                         # rank 90, ten beyond
    (199, 90.0), (200, 95.0),
    (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_beyond(n, expected):
    assert M.tail_percentile(n) == expected


def test_tail_reports_max_below_100_samples():
    values = [float(v) for v in range(1, 19)]
    value, label = M.tail(values)
    assert value == 18.0
    assert label.startswith("max (n=18")


def test_tail_reports_percentile_and_count():
    values = [float(v) for v in range(1, 101)]
    value, label = M.tail(values)
    assert value == 90.0            # nearest rank 90 of 1..100
    assert label == "p90 (n=100)"
    assert sum(v > value for v in values) == 10


def test_percentile_nearest_rank():
    assert M.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert M.percentile([5.0], 99.9) == 5.0
    with pytest.raises(ValueError):
        M.percentile([], 50)


# --- self-time subtraction --------------------------------------------------


def _span(sid, parent, start, end, layer="bench", op=0):
    return {"id": sid, "parent": parent, "start": start, "end": end, "layer": layer, "op": op,
            "name": f"s{sid}"}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0, "engine"), _span(2, 0, 5.0, 6.0, "stats")]
    st = M.self_times(spans)
    assert st == {0: pytest.approx(6.0), 1: pytest.approx(3.0), 2: pytest.approx(1.0)}


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0), _span(2, 0, 3.0, 7.0),
             _span(3, 0, 4.0, 6.0)]
    assert M.self_times(spans)[0] == pytest.approx(10.0 - 6.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 2.0, 4.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0)]
    assert M.self_times(spans)[0] == pytest.approx(1.0)


def test_layer_self_times_sum_to_root_wall():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0, "engine"),
             _span(2, 1, 2.0, 3.0, "spark"), _span(3, 0, 4.0, 9.0, "engine")]
    by_layer = M.layer_self_times(spans)
    assert by_layer == {"bench": pytest.approx(2.0), "engine": pytest.approx(7.0),
                        "spark": pytest.approx(1.0)}
    assert sum(by_layer.values()) == pytest.approx(10.0)


# --- fingerprints -------------------------------------------------------------


def test_norm_cell():
    assert M.norm_cell(None) == M.norm_cell(float("nan")) == "\0NULL"
    assert M.norm_cell(3.0) == "3"
    assert M.norm_cell(0.1 + 0.2) == "0.3"
    assert M.norm_cell(True) == "true"
    assert M.norm_cell([1.0, None, "a"]) == "[1,\0NULL,a]"


def test_frame_hash_ignores_row_and_column_order():
    a = M.frame_hash(["x", "y"], [(1, "a"), (2, "b")])
    b = M.frame_hash(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b


def test_frame_hash_normalizes_numbers_and_nulls():
    assert M.frame_hash(["x"], [(1.0,), (None,)]) == M.frame_hash(["x"], [(float("nan"),), (1,)])


def test_frame_hash_sees_content_and_duplicates():
    base = M.frame_hash(["x"], [(1,), (2,)])
    assert base != M.frame_hash(["x"], [(1,), (3,)])
    assert base != M.frame_hash(["x"], [(1,), (2,), (2,)])


def test_pandas_hash_matches_frame_hash():
    pd = pytest.importorskip("pandas")
    df = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    assert M.pandas_hash(df) == M.frame_hash(["a", "b"], [("x", 1), ("y", 2)])


# --- status-store aggregation -----------------------------------------------


def _stage(sid, status="COMPLETE", run_ms=1000, rows=10, write=0):
    return {"stage_id": sid, "status": status, "tasks": 4, "executor_run_ms": run_ms,
            "executor_cpu_ns": run_ms * 500_000, "jvm_gc_ms": 10, "shuffle_write_bytes": write,
            "shuffle_read_bytes": 0, "memory_spilled_bytes": 0, "disk_spilled_bytes": 0,
            "input_records": rows}


def test_aggregate_stages_shared_stage_counts_once_for_first_job():
    jobs = [{"job_id": 2, "group": "g", "name": "b", "stage_ids": [1, 2]},
            {"job_id": 1, "group": "g", "name": "a", "stage_ids": [1]}]
    layers = {1: "engine", 2: "stats"}
    out = M.aggregate_stages(jobs, [_stage(1, write=2 ** 20), _stage(2)], lambda j: layers[j["job_id"]])
    assert out["engine"]["jobs"] == 1 and out["stats"]["jobs"] == 1
    assert out["engine"]["executor_run_s"] == pytest.approx(1.0)
    assert out["engine"]["shuffle_write_mb"] == pytest.approx(1.0)
    assert out["stats"]["tasks"] == 4 and out["stats"]["input_rows"] == 10


def test_aggregate_stages_ignores_skipped_and_unmeasured():
    jobs = [{"job_id": 1, "group": "g", "name": "a", "stage_ids": [1, 2]},
            {"job_id": 3, "group": None, "name": "setup", "stage_ids": [3]}]
    stages = [_stage(1), _stage(2, status="SKIPPED"), _stage(3)]
    out = M.aggregate_stages(jobs, stages, lambda j: "engine" if j["job_id"] == 1 else None)
    assert set(out) == {"engine"}
    assert out["engine"]["tasks"] == 4
    assert out["engine"]["executor_cpu_s"] == pytest.approx(0.5)


def test_aggregate_stages_sums_retried_attempts():
    jobs = [{"job_id": 1, "group": "g", "name": "a", "stage_ids": [1]}]
    out = M.aggregate_stages(jobs, [_stage(1, run_ms=500), _stage(1, run_ms=700)], lambda j: "engine")
    assert out["engine"]["executor_run_s"] == pytest.approx(1.2)


def test_call_site_layer():
    assert M.call_site_layer("collect at /x/prompture_spark/checkpoints/manifest.py:194") == "checkpoints"
    assert M.call_site_layer("count at /x/prompture_spark/operators/dedup.py:12") == "dedup"
    assert M.call_site_layer("save at /x/perfbench/workloads.py:90") is None
    assert M.call_site_layer("collect at /x/prompture_spark/sources/loader.py:3") is None


def test_job_layer_prefers_call_site_over_span_layer():
    class FakeTracer:
        spans = [{"id": 0, "op": 0, "layer": "bench"}, {"id": 1, "op": 0, "layer": "checkpoints"},
                 {"id": 2, "op": 2, "layer": "bench"}]

    layer_of = job_layer_fn(FakeTracer(), measured_ops={0})
    job = {"group": GROUP_PREFIX + "1", "name": "collect at /x/perfbench/w.py:1"}
    assert layer_of(job) == "checkpoints"
    assert layer_of({**job, "name": "collect at /x/prompture_spark/operators/engine.py:9"}) == "engine"
    assert layer_of({**job, "group": GROUP_PREFIX + "2"}) is None   # op outside the measured set
    assert layer_of({**job, "group": None}) is None


@pytest.mark.parametrize("text,expected", [
    ("12", 12.0),
    ("1,234", 1234.0),
    ("total (min, med, max (stageId: taskId))\n8.4 KiB (2.1 KiB, 2.1 KiB, 2.1 KiB (stage 3.0: task 7))",
     8.4 * 1024),
    ("total (min, med, max)\n1.5 s (0.3 s, 0.4 s, 0.5 s)", 1.5),
    ("total (min, med, max)\n250 ms (50 ms, 60 ms, 70 ms)", 0.25),
    ("2.0 MiB", 2.0 * 2 ** 20),
])
def test_parse_sql_metric(text, expected):
    assert M.parse_sql_metric(text) == pytest.approx(expected)


def test_parse_sql_metric_rejects_unknown_unit():
    with pytest.raises(ValueError):
        M.parse_sql_metric("3 parsecs")


# --- process CPU time -------------------------------------------------------


def test_stat_cpu_ticks_handles_spaces_in_command():
    line = "4242 (python3 -m x) S 17 4242 4242 0 -1 4194304 1 0 0 0 30 7 5 2 20 0 1 0 99 1 1"
    assert M.stat_cpu_ticks(line) == (17, 30 + 7 + 5 + 2)


def test_tree_cpu_ticks_sums_descendants_only():
    stats = {1: (0, 1000), 10: (1, 5), 11: (10, 7), 12: (11, 11), 20: (1, 100)}
    assert M.tree_cpu_ticks(stats, 10) == 5 + 7 + 11
    assert M.tree_cpu_ticks(stats, 12) == 11
    assert M.tree_cpu_ticks(stats, 99) == 0


def test_process_tree_cpu_s_grows_with_work():
    before = M.process_tree_cpu_s(os.getpid())
    deadline = time.process_time() + 0.05
    while time.process_time() < deadline:
        pass
    assert M.process_tree_cpu_s(os.getpid()) >= before


# --- host noise ---------------------------------------------------------------


def test_host_noise_flags_steal_and_load():
    start = {"load1": 0.5, "load5": 0.4, "cpu": {"steal": 0, "total": 1000}}
    quiet = {"load1": 3.0, "load5": 1.0, "cpu": {"steal": 10, "total": 2000}}
    stolen = {"load1": 3.0, "load5": 1.0, "cpu": {"steal": 100, "total": 2000}}
    assert M.host_noise(start, quiet, 4)["busy"] is False
    rec = M.host_noise(start, stolen, 4)
    assert rec["busy"] is True and rec["steal_pct"] == pytest.approx(10.0)
    assert M.host_noise({**start, "load1": 7.0}, quiet, 4)["busy"] is True


def test_read_cpu_times():
    cpu = M.read_cpu_times("cpu  10 1 5 100 4 0 2 3 0 0\ncpu0 1 1 1 1 1 1 1 1\n")
    assert cpu == {"busy": 18, "idle": 104, "steal": 3, "total": 125}
