"""Tests of the benchmark's own helpers: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    Tracer,
    layer_self_times,
    parse_metric,
    prefix_stage_times,
    self_times,
    summarize,
    tail_percentile,
    union_length,
)


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


# -- percentile rule -------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None
    pct, value = tail_percentile(list(range(11)))
    assert (pct, value) == (100 * 1 / 11, 0)


def test_tail_leaves_exactly_ten_beyond():
    samples = [float(x) for x in range(100)]
    pct, value = tail_percentile(samples)
    assert pct == 90.0
    assert sum(1 for s in samples if s > value) == 10


def test_tail_ignores_input_order():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
    assert tail_percentile(samples) == tail_percentile(sorted(samples))


def test_summarize_reports_count_median_and_quartiles():
    s = summarize([3.0, 1.0, 2.0, 4.0])
    assert s == {"median": 2.5, "q1": 1.25, "q3": 3.75, "spread": 1.0,
                 "tail_pct": None, "tail": None, "n": 4}
    assert summarize([5.0])["spread"] is None


# -- spans and self time ---------------------------------------------------


def test_union_of_overlapping_intervals():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_of_nested_spans():
    spans = [
        _span(0, "job", 0.0, 10.0),
        _span(1, "pipeline.run", 1.0, 9.0, 0),
        _span(2, "functions.a", 2.0, 4.0, 1),
        _span(3, "sources.write", 5.0, 8.0, 1),
    ]
    st = self_times(spans)
    assert st == {0: 2.0, 1: 3.0, 2: 2.0, 3: 3.0}


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, "job", 0.0, 10.0),
        _span(1, "sources.commit", 2.0, 6.0, 0),
        _span(2, "sources.commit", 4.0, 8.0, 0),
        # runs past its parent's end: only the part inside counts
        _span(3, "sources.commit", 9.0, 12.0, 0),
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_layer_self_times_add_up_to_the_root():
    spans = [
        _span(0, "job", 0.0, 10.0),
        _span(1, "pipeline.run", 1.0, 9.0, 0),
        _span(2, "functions.a", 2.0, 4.0, 1),
        _span(3, "sources.write.x", 5.0, 8.0, 1),
        _span(4, "session.get_spark", 9.0, 9.5, 0),
        _span(5, "sources.outside", 20.0, 21.0),  # not under the root
    ]
    layers, uncovered = layer_self_times(spans, 0)
    assert layers == {"pipeline": 3.0, "functions": 2.0, "sources": 3.0, "session": 0.5}
    assert uncovered == pytest.approx(1.5)
    assert sum(layers.values()) + uncovered == pytest.approx(10.0)


def test_tracer_parents_nested_spans():
    t = Tracer()
    with t.span("job") as root:
        with t.span("a.x") as inner:
            pass
        with t.span("b.y") as second:
            pass
    assert root["parent"] is None
    assert inner["parent"] == second["parent"] == root["id"]
    assert root["end"] >= second["end"] >= inner["end"] >= inner["start"] >= root["start"]


# -- prefix stage times ----------------------------------------------------


def test_prefix_differences():
    got = prefix_stage_times([("read", 1.0), ("langid", 3.5), ("perplexity", 4.0)])
    assert got == {"read": 1.0, "langid": 2.5, "perplexity": 0.5}


# -- status-store metric strings ------------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [
        ("13.1 s (2.9 s, 3.0 s, 3.1 s (stage 1.0: task 4))", 13.1),
        ("total (min, med, max (stageId: taskId))\n13.1 s (2.9 s, 3.0 s, 3.1 s (stage 1.0: task 4))", 13.1),
        ("400.6 KiB", 400.6 * 1024),
        ("total (min, med, max (stageId: taskId))\n3.8 MiB (965.3 KiB, 966.0 KiB, 986.0 KiB (stage 1.0: task 2))", 3.8 * 1024**2),
        ("69 ms", 0.069),
        ("1.5 m", 90.0),
        ("0.0 B", 0.0),
        ("8,235", 8235.0),
        ("1,234,567", 1234567.0),
        (None, 0.0),
        ("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 74.0: task 434))", None),
    ],
)
def test_parse_metric(text, value):
    got = parse_metric(text)
    assert got is None if value is None else got == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")


# -- the timed job and the result line ------------------------------------


class _FakeSpark:
    class sparkContext:  # noqa: N801  the attribute a SparkSession has
        @staticmethod
        def cancelAllJobs():
            pass


def _run():
    from workloads import Run

    return Run("qf_batch", 1, False, 0.0)


def test_a_run_whose_only_job_fails_prints_failed_1_and_no_metrics():
    from workloads import result_line, timed_job

    def job():
        raise RuntimeError("engine error")

    run = _run()
    assert timed_job(run, _FakeSpark(), job) == {"wall": None}
    assert result_line(run, {}) == {
        "correct": False, "attempted": 1, "failed": 1, "metrics": {},
    }


def test_end_to_end_metrics_of_a_passed_job():
    from workloads import end_to_end, result_line, timed_job

    run = _run()
    assert timed_job(run, _FakeSpark(), lambda: None)["wall"] >= 0
    line = result_line(run, end_to_end(2.0, 3.0, 20, 120, 10))
    assert line == {"correct": True, "attempted": 1, "failed": 0, "metrics": {
        "setup_s": {"value": 2.0, "unit": "s"},
        "job_s": {"value": 3.0, "unit": "s"},
        "rows_per_s": {"value": 40.0, "unit": "rows/s"},
        "bytes_out_per_byte_in": {"value": 2.0, "unit": "ratio"},
    }}


def test_benchmark_json_names_the_printed_metrics():
    import json

    from workloads import PER_LAYER, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "job_s", "rows_per_s", "bytes_out_per_byte_in"}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


def test_summarize_runs_groups_by_workload():
    import json

    from summarize import summarize_runs

    lines = []
    for workload, job_s, failed in [("a", 1.0, 0), ("a", 3.0, 0), ("b", 5.0, 1)]:
        lines.append(json.dumps({"details": {"workload": workload, "trace": 0}}))
        metrics = {"job_s": {"value": job_s, "unit": "s"}} if not failed else {}
        lines.append(json.dumps({"correct": not failed, "attempted": 1, "failed": failed,
                                 "metrics": metrics}))
    got = summarize_runs(lines)
    assert got["a trace=0"]["runs"] == 2 and got["a trace=0"]["failed"] == 0
    assert got["a trace=0"]["metrics"]["job_s"]["median"] == 2.0
    assert got["b trace=0"] == {"runs": 1, "attempted": 1, "failed": 1, "metrics": {}}
