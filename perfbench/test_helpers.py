"""Tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from helpers import (  # noqa: E402
    Tracer, compare_rows, covered, layer_self_times, merge_spark,
    parse_event_log, self_times, summarize, tail_percentile, task_skew,
    values_equal,
)


# ----- percentile rule -----------------------------------------------------

def test_no_tail_below_twenty_samples():
    assert tail_percentile(19) is None
    s = summarize([float(i) for i in range(19)])
    assert s["n"] == 19 and s["tail"] is None and s["p50"] == 9.0


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail_percentile(20) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_tail_value_leaves_ten_samples_above():
    vals = [float(i) for i in range(1, 101)]
    s = summarize(vals)
    assert s["tail_pct"] == 90.0 and s["tail"] == 90.0
    assert sum(v > s["tail"] for v in vals) == 10


# ----- spans and self time -------------------------------------------------

def _span(sid, parent, start, end, layer=None):
    return {"id": sid, "layer": layer or sid, "parent": parent,
            "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 10)], 2, 4) == 2
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children_only():
    spans = [_span("root", None, 0.0, 10.0),
             _span("a", "root", 1.0, 4.0),
             _span("b", "root", 3.0, 6.0),      # overlaps a
             _span("a1", "a", 1.5, 2.5)]        # grandchild of root
    st = self_times(spans)
    assert st["root"] == 10.0 - 5.0
    assert st["a"] == 3.0 - 1.0
    assert st["b"] == 3.0
    assert st["a1"] == 1.0


def test_layer_self_times_sum_spans_of_a_layer():
    spans = [_span("s0", None, 0, 4, "op"), _span("s1", "s0", 1, 2, "x"),
             _span("s2", None, 5, 6, "op"), _span("s3", "s2", 5, 5.5, "x")]
    assert layer_self_times(spans) == {"op": 3.5, "x": 1.5}


def test_tracer_records_parents_and_tags_jobs():
    tags = []
    tr = Tracer(True, on_enter=tags.append, on_exit=tags.append)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s["id"], s["layer"], s["parent"]) for s in tr.spans] == [
        ("s0", "outer", None), ("s1", "inner", "s0")]
    # enter outer, enter inner, back to outer, back to no group
    assert tags == ["s0", "s1", "s0", None]
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_disabled_tracer_records_nothing():
    calls = []
    tr = Tracer(False, on_enter=calls.append, on_exit=calls.append)
    with tr.span("x"):
        pass
    assert tr.spans == [] and calls == []


# ----- event log -----------------------------------------------------------

def _job(job_id, stages, group):
    props = {} if group is None else {"spark.jobGroup.id": group}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id,
                       "Stage IDs": stages, "Properties": props})


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, wr=0, local=0, remote=0,
          wait=0, spill=0, py_sent=None):
    acc = [] if py_sent is None else [
        {"Name": "data sent to Python workers", "Update": str(py_sent)}]
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Local Bytes Read": local,
                                     "Remote Bytes Read": remote,
                                     "Fetch Wait Time": wait},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": wr}},
    })


MB = 1024 * 1024


def test_event_log_attributes_tasks_to_job_groups():
    lines = [
        _job(0, [0, 1], "s3"),
        _task(0, 100, cpu_ns=50_000_000, wr=MB),
        _task(1, 300, gc_ms=20, local=MB, remote=MB, wait=40),
        _job(1, [1, 2], None),        # stage 1 already belongs to s3
        _task(2, 50, spill=2 * MB, py_sent=MB // 2),
        "",
        json.dumps({"Event": "SparkListenerStageCompleted"}),
    ]
    g = parse_event_log(lines)
    s3 = g["s3"]
    assert s3["jobs"] == 1 and s3["tasks"] == 2
    assert math.isclose(s3["executor_run_s"], 0.4)
    assert math.isclose(s3["executor_cpu_s"], 0.05)
    assert math.isclose(s3["gc_s"], 0.02)
    assert math.isclose(s3["shuffle_write_mb"], 1.0)
    assert math.isclose(s3["shuffle_read_mb"], 2.0)
    assert math.isclose(s3["shuffle_fetch_wait_s"], 0.04)
    assert s3["stages"] == {0: [100], 1: [300]}
    ungrouped = g[None]
    assert ungrouped["jobs"] == 1 and ungrouped["tasks"] == 1
    assert math.isclose(ungrouped["spill_mb"], 2.0)
    assert math.isclose(ungrouped["python_sent_mb"], 0.5)


def test_merge_and_task_skew():
    g = parse_event_log([_job(0, [0], "a"), _task(0, 10), _task(0, 10),
                         _task(0, 40), _job(1, [1], "b"), _task(1, 5)])
    m = merge_spark([g["a"], g["b"]])
    assert m["tasks"] == 4 and math.isclose(m["executor_run_s"], 0.065)
    # the heaviest stage (0) decides: max 40 / median 10
    assert task_skew(m["stages"]) == 4.0
    assert task_skew({}) == 1.0


# ----- oracle comparison ---------------------------------------------------

def test_values_equal_treats_nan_and_null_alike():
    nan = float("nan")
    assert values_equal(nan, nan) and values_equal(nan, None)
    assert values_equal(1.0, 1) and not values_equal(1.0, 1.0000001)
    assert not values_equal(nan, 0.0) and not values_equal(None, 0.0)


def test_compare_rows_reports_every_difference():
    want = [{"k": "a", "x": 1.0, "y": float("nan")},
            {"k": "b", "x": 2.0, "y": 0.5}]
    assert compare_rows([dict(r) for r in want], want, "k") == []
    got = [{"k": "a", "x": 1.5, "y": None}, {"k": "c", "x": 0.0, "y": 0.0}]
    problems = compare_rows(got, want, "k")
    assert problems == ["missing row k='b'", "unexpected row k='c'",
                        "k='a' x: got 1.5 want 1.0"]


# ----- seeded inputs -------------------------------------------------------

def test_corpus_depends_on_seed_alone_and_has_fixed_class_counts(tmp_path):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from run import synthesize_corpus

    corpus = {"long_convs": 3, "short_convs": 5, "long_turns": 20,
              "max_turns": 40, "start": "2024-03-01", "span_days": 2,
              "n_forced_long": 1, "forced_long_turns": 60}
    metas = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        synthesize_corpus(seed, corpus, str(tmp_path / name))
        with open(tmp_path / name / "_perfbench.json") as f:
            metas.append(json.load(f))
    a, b, c = metas
    assert a == b
    assert a["fingerprint"] != c["fingerprint"]
    for m in (a, c):
        # the forced whale plus long_convs series reach long_turns
        assert m["convs"] == 1 + 3 + 5
        assert len(m["featured_convs"]) == 1 + 3
        assert m["longest_conv"] == "conv-00000000"


# ----- loop and host probes ------------------------------------------------

def test_loop_alternates_tracers_and_ends_on_a_whole_round():
    from workloads import Workload

    class Counting(Workload):
        def step(self, tr):
            self.record("op", tr.enabled)
            self.count("n", 1)
            return True

    plain, traced = Tracer(False), Tracer(True)
    wl = Counting(ctx=None)
    wl.min_loop_ops = 2
    base, phase = wl.loop(0.0, (plain, traced))
    assert base["ops"] == phase["ops"] == 2
    assert base["samples"] == {"op": [False, False]}
    assert phase["samples"] == {"op": [True, True]}
    assert phase["counters"] == {"n": [1, 1]}
    assert base["wall_s"] >= 0.0 and phase["wall_s"] >= 0.0


def test_tree_cpu_counts_this_process():
    from helpers import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    t_end = os.times().elapsed + 0.2
    while os.times().elapsed < t_end:
        pass
    assert tree_cpu_s(os.getpid()) - before >= 0.1
