"""Tests of the benchmark's measuring code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402
import run  # noqa: E402


# -- self time ---------------------------------------------------------------


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "run_id": "r", "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_children():
    root = _span(0, 0.0, 10.0)
    spans = [root, _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert measure.self_time(root, spans) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    root = _span(0, 0.0, 10.0)
    spans = [root, _span(1, 1.0, 5.0, 0), _span(2, 4.0, 6.0, 0), _span(3, 6.0, 7.0, 0)]
    assert measure.self_time(root, spans) == pytest.approx(4.0)


def test_self_time_ignores_grandchildren_and_clips_to_parent():
    root = _span(0, 0.0, 10.0)
    spans = [
        root,
        _span(1, 2.0, 4.0, 0),
        _span(2, 2.5, 3.5, 1),  # inside child 1: not subtracted again
        _span(3, 9.0, 12.0, 0),  # runs past the parent's end
    ]
    assert measure.self_time(root, spans) == pytest.approx(7.0)
    assert measure.self_time(spans[1], spans) == pytest.approx(1.0)


def test_tracer_records_parent_and_run_id():
    ticks = iter(range(100))
    t = measure.Tracer(clock=lambda: float(next(ticks)))
    with t.span("outer", "run1"):
        with t.span("inner", "run1"):
            pass
    with t.span("next", "run2"):
        pass
    outer, inner, nxt = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert nxt["parent"] is None and nxt["run_id"] == "run2"
    assert measure.duration(outer) == 3.0
    assert measure.self_time(outer, t.spans) == 2.0


# -- stage-window attribution ------------------------------------------------


def test_new_stage_ids_is_the_window_difference():
    before = {0, 1, 2, 5}
    after = {0, 1, 2, 5, 6, 7, 9}
    assert measure.new_stage_ids(before, after) == [6, 7, 9]
    assert measure.new_stage_ids(after, after) == []


def test_stage_window_metrics_sums_and_takes_skew_of_busiest_stage():
    stages = [
        {"executor_run_ms": 4000, "executor_cpu_ns": 3_000_000_000, "gc_ms": 100,
         "shuffle_read_bytes": 10, "shuffle_write_bytes": 20, "spill_bytes": 0,
         "output_bytes": 500, "task_p50_ms": 100.0, "task_max_ms": 300.0},
        {"executor_run_ms": 1000, "executor_cpu_ns": 500_000_000, "gc_ms": 0,
         "shuffle_read_bytes": 5, "shuffle_write_bytes": 0, "spill_bytes": 7,
         "output_bytes": 0, "task_p50_ms": 10.0, "task_max_ms": 100.0},
        # a skipped stage: no tasks, no summary
        {"executor_run_ms": 0, "executor_cpu_ns": 0},
    ]
    m = measure.stage_window_metrics(stages)
    assert m["executor_cpu_s"] == pytest.approx(3.5)
    assert m["gc_s"] == pytest.approx(0.1)
    assert m["shuffle_read_bytes"] == 15
    assert m["shuffle_write_bytes"] == 20
    assert m["spill_bytes"] == 7
    assert m["bytes_written"] == 500
    assert m["task_skew"] == pytest.approx(3.0)  # busiest stage, not max ratio
    assert m["spark_stages"] == 3


def test_stage_window_metrics_of_an_empty_window():
    m = measure.stage_window_metrics([])
    assert m["executor_cpu_s"] == 0 and m["task_skew"] == 1.0


# -- percentile rule ----------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert measure.tail_percentile([1.0] * 10) is None
    # 11 samples: p75 has rank ceil(8.25) = 9, leaving only 2 beyond it
    assert measure.tail_percentile([float(i) for i in range(11)]) is None
    # 40 samples: p75 has rank 30 and 10 beyond it; p90 would leave 4
    p, v = measure.tail_percentile([float(i) for i in range(40)])
    assert (p, v) == (75.0, 29.0)
    # 100 samples: p90 has rank 90 and 10 beyond it; p95 would leave 5
    p, v = measure.tail_percentile([float(i) for i in range(100, 0, -1)])
    assert (p, v) == (90.0, 90.0)
    # 1000 samples: p99 has rank 990 and 10 beyond it
    p, v = measure.tail_percentile([float(i) for i in range(1000)])
    assert (p, v) == (99.0, 989.0)


def test_summarize_reports_median_and_count():
    s = measure.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "median": 2.0, "tail": None}


# -- error-rate counting -------------------------------------------------------


def test_error_rate_counts_every_wrong_or_failed_run():
    assert measure.error_rate([True, True, False, True]) == (4, 1, 0.25)
    assert measure.error_rate([True]) == (1, 0, 0.0)


def test_error_rate_of_nothing_attempted_is_total_failure():
    assert measure.error_rate([]) == (0, 0, 1.0)


def test_compare_triples_passes_an_exact_output():
    want = {("d1", "rdf:type", "T1"), ("T1", "is_a", "T0")}
    v = measure.compare_triples(list(want), want, 0.95)
    assert v["ok"] and v["exact"] and v["correct"] == 2
    assert (v["extra"], v["missing"], v["duplicates"]) == (0, 0, 0)


def test_compare_triples_fails_duplicates_and_low_precision_or_recall():
    want = {(f"d{i}", "rdf:type", "T1") for i in range(100)}
    rows = sorted(want)
    dup = measure.compare_triples(rows + rows[:1], want, 0.95)
    assert not dup["ok"] and dup["duplicates"] == 1 and dup["correct"] == 100
    # 6 wrong of 100: precision 0.94
    wrong = rows[:94] + [(f"d{i}", "rdf:type", "T2") for i in range(94, 100)]
    v = measure.compare_triples(wrong, want, 0.95)
    assert not v["ok"] and v["correct"] == 94
    assert (v["extra"], v["missing"]) == (6, 6)
    # 4 missing of 100: recall 0.96, still within the bound
    v = measure.compare_triples(rows[:96], want, 0.95)
    assert v["ok"] and not v["exact"] and v["missing"] == 4


def test_verdicts_add_a_failure_for_a_crashed_session():
    ok_run = {"run_id": "cold", "ok": True}
    bad_run = {"run_id": "timed1", "ok": False}
    assert run.verdicts({"returncode": 0, "setup": {}, "runs": [ok_run, bad_run]}) == [True, False]
    # crashed after one good run: the crash is one more failed attempt
    assert run.verdicts({"returncode": 1, "setup": {}, "runs": [ok_run]}) == [True, False]
    # never set up: one failed attempt, so attempted >= 1
    assert run.verdicts({"returncode": "timeout", "runs": []}) == [False]


def test_e2e_metrics_use_only_passing_runs():
    sess = {
        "returncode": 0,
        "setup": {"setup_s": 12.0},
        "peak_rss_bytes": 3 * 2**30,
        "runs": [
            {"run_id": "cold", "ok": True, "wall_s": 10.0, "triples": 100, "correct": 100},
            {"run_id": "warmup1", "ok": True, "wall_s": 6.0, "triples": 100, "correct": 100},
            {"run_id": "timed1", "ok": True, "wall_s": 4.0, "triples": 100, "correct": 100},
            {"run_id": "timed2", "ok": False, "wall_s": 1.0, "triples": 3, "correct": 3},
            {"run_id": "timed3", "ok": True, "wall_s": 5.0, "triples": 100, "correct": 100},
        ],
    }
    m = run.e2e_metrics(sess)
    assert m["wall_s"] == (4.5, "s")
    assert m["cold_wall_s"] == (10.0, "s")
    assert m["setup_s"] == (12.0, "s")
    assert m["triples_per_s"][0] == pytest.approx((25.0 + 20.0) / 2)
    assert m["peak_rss_mb"] == (3072.0, "MB")


# -- /proc arithmetic -----------------------------------------------------------


def _proc(ppid, cmd, rss=0, cpu=0.0, child_cpu=0.0, sid=1):
    return {"state": "S", "ppid": ppid, "sid": sid, "rss_bytes": rss,
            "cpu_s": cpu, "child_cpu_s": child_cpu, "cmd": cmd}


def test_python_worker_cpu_adds_reaped_workers_of_the_daemon_only():
    table = {
        10: _proc(1, "python3 driver.py", cpu=50.0),
        11: _proc(10, "java -cp spark", cpu=100.0, child_cpu=9.0),
        12: _proc(11, "python3 -m pyspark.daemon", cpu=1.0, child_cpu=4.0),
        13: _proc(12, "python3 -m pyspark.daemon", cpu=2.0, child_cpu=99.0),
        14: _proc(12, "python3 -m pyspark.daemon", cpu=3.0),
        20: _proc(1, "python3 -m pyspark.daemon", cpu=70.0),  # another tree
    }
    assert measure.python_worker_cpu_s(table, 10) == pytest.approx(1 + 4 + 2 + 3)


def test_tree_rss_skips_a_vfork_child_that_mirrors_its_parent():
    table = {
        10: _proc(1, "python3 driver.py", rss=100),
        11: _proc(10, "java -cp spark", rss=3000),
        12: _proc(11, "java -cp spark", rss=3000),  # between vfork and exec
        13: _proc(11, "python3 -m pyspark.daemon", rss=50),
        14: _proc(13, "python3 -m pyspark.daemon", rss=60),  # forked worker
    }
    assert measure.tree_rss_bytes(table, set(table)) == 100 + 3000 + 50 + 60
    assert measure.descendants(table, 11) == {11, 12, 13, 14}


def test_driver_heap_is_a_quarter_of_memory_clamped():
    gib = 2**30
    assert run.driver_heap(15 * gib) == "3g"
    assert run.driver_heap(2 * gib) == "1g"
    assert run.driver_heap(256 * gib) == "6g"
