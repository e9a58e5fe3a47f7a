"""Tests of the benchmark's own rules (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import eventlog
import stats


# -- percentile rule -----------------------------------------------------------
def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 20) == 1.0
    assert stats.percentile(xs, 21) == 2.0
    assert stats.percentile(xs, 100) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile(xs, 0)


def test_tail_needs_ten_samples_beyond():
    # the sample counts a run must reach before each tail may be reported
    for p, n in ((50, 20), (75, 40), (90, 100), (99, 1000)):
        assert stats.supported(n, p)
        assert not stats.supported(n - 1, p)
    assert stats.beyond(40, 75) == 10
    assert not stats.supported(39, 75)


def test_highest_supported_percentile():
    assert stats.highest_supported(10) is None
    assert stats.highest_supported(20) == 50
    assert stats.highest_supported(99) == 75
    assert stats.highest_supported(100) == 90
    assert stats.highest_supported(1000) == 99


# -- job-to-layer attribution -----------------------------------------------
def _job(jid, stages, desc, submit, end):
    props = {} if desc is None else {"spark.job.description": desc}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, run_ms, shuffle=0, rows=0, gc_ms=0, rows_in=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Input Metrics": {"Records Read": rows_in},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": 0, "Records Written": rows},
        },
    }


def _log(events):
    return eventlog.parse_events(json.dumps(e) for e in events)


def test_layer_of_reads_only_benchmark_tags():
    assert eventlog.layer_of("kgbench:extract") == "extract"
    assert eventlog.layer_of("kgbench:cc") == "cc"
    assert eventlog.layer_of("save at NativeMethodAccessorImpl.java:0") is None
    assert eventlog.layer_of(None) is None


def test_attribute_sums_tasks_under_the_job_description():
    events = [
        *_job(0, [0, 1], "kgbench:extract", 1_000, 2_000),
        *_job(1, [2], "kgbench:mentions", 2_000, 3_000),
        *_job(2, [3], None, 3_000, 3_500),
        _task(0, 1500, gc_ms=200, rows_in=10),
        _task(1, 500, shuffle=2**20),
        _task(2, 700, rows=42),
        _task(3, 100),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2},  # failed task: no metrics
    ]
    c = eventlog.attribute(_log(events))
    assert c["extract"].jobs == 1
    assert c["extract"].task_s == pytest.approx(2.0)
    assert c["extract"].gc_s == pytest.approx(0.2)
    assert c["extract"].shuffle_write_mb == pytest.approx(1.0)
    assert c["extract"].rows_in == 10
    assert c["mentions"].rows_out == 42
    assert c["*"].jobs == 3
    assert c["*"].task_s == pytest.approx(2.8)
    assert set(c) == {"*", "extract", "mentions"}


def test_shared_stage_counts_once_under_its_first_job():
    events = [
        *_job(0, [0], "kgbench:linking", 0, 10),
        *_job(1, [0, 1], "kgbench:triples", 10, 20),  # stage 0 skipped here
        _task(0, 1000),
        _task(1, 3000),
    ]
    c = eventlog.attribute(_log(events))
    assert c["linking"].task_s == pytest.approx(1.0)
    assert c["triples"].task_s == pytest.approx(3.0)


def test_window_keeps_jobs_submitted_inside():
    events = [
        *_job(0, [0], "kgbench:extract", 100, 200),
        *_job(1, [1], "kgbench:extract", 500, 600),
        _task(0, 1000),
        _task(1, 2000),
    ]
    c = eventlog.attribute(_log(events), window_ms=(400, 700))
    assert c["extract"].jobs == 1
    assert c["extract"].task_s == pytest.approx(2.0)


def test_idle_time_is_window_minus_union_of_jobs():
    log = _log([
        *_job(0, [0], None, 1_000, 3_000),
        *_job(1, [1], None, 2_000, 4_000),  # overlaps job 0
        *_job(2, [2], None, 6_000, 7_000),
    ])
    jobs = list(log.jobs.values())
    assert eventlog.idle_s(jobs, (0, 10_000)) == pytest.approx(6.0)
    # clipped to the window
    assert eventlog.idle_s(jobs, (2_500, 6_500)) == pytest.approx(2.0)
    assert eventlog.idle_s([], (0, 1_000)) == pytest.approx(1.0)


# -- stage intervals ---------------------------------------------------------
def _build_trace(stages, obs_end=100.0):
    b = {"commits": [(s, float(i)) for i, s in enumerate(stages)]}
    if obs_end is not None:
        b["observability_end"] = obs_end
    return b


def test_stages_complete_needs_every_stage_once_in_order():
    import tracing

    order = list(tracing.STAGE_END.values())
    assert tracing.stages_complete(_build_trace(order))
    # a stage table renamed or skipped: its time would go to the next stage
    assert not tracing.stages_complete(_build_trace(order[:3] + order[4:]))
    assert not tracing.stages_complete(_build_trace(order + order[-1:]))
    assert not tracing.stages_complete(_build_trace(order[1:2] + order[:1] + order[2:]))
    # no observability append, or one before the last stage commit
    assert not tracing.stages_complete(_build_trace(order, obs_end=None))
    assert not tracing.stages_complete(_build_trace(order, obs_end=0.5))


# -- BENCHMARK.json agrees with what the benchmark prints ---------------------
def test_benchmark_json_names_every_printed_metric():
    import run
    import tracing
    import workloads

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == tracing.UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
