"""The reducer on a hand-built span tree and a tiny event log."""

import pytest

import spans
from spans import Span


def tree():
    # op 1: bench [0,10] > parity_queries [1,4] > ops [2,3]; spark_action [5,9]
    return [
        Span(1, "op", "bench", 0.0, 10.0, None, 1),
        Span(2, "q", "parity_queries", 1.0, 4.0, 1, 1, py4j=7),
        Span(3, "ops.f", "ops", 2.0, 3.0, 2, 1, py4j=5),
        Span(4, "noop_write", "spark_action", 5.0, 9.0, 1, 1, py4j=2),
        Span(5, "get_spark", "session", -3.0, -1.0, None, None),
    ]


def job(jid, group, submit_ms, end_ms, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit_ms,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": str(group)}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def stage(sid, group):
    info = {"Stage ID": sid}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info,
         "Properties": {"spark.jobGroup.id": str(group)}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ]


def task(sid, run_ms, ok=True, shuffle=0, read=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Input Metrics": {"Bytes Read": read},
                             "Output Metrics": {"Bytes Written": written}}}


def events():
    return [
        {"Event": "SparkListenerLogStart"},
        *job(0, 3, 2200, 2800, [0]), *stage(0, 3), task(0, 500, shuffle=100),
        *job(1, 4, 5500, 8500, [1, 2]), *stage(1, 4), *stage(2, 4),
        task(1, 1000, read=50), task(1, 1000, read=50), task(2, 10, ok=False),
        # a job outside any span is attributed to none
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 0,
         "Stage IDs": [3], "Properties": {}},
    ]


def test_self_times_sum_to_the_op_wall():
    selfs = {sid: spans._length(iv) for sid, iv in spans.self_intervals(tree()).items()}
    assert selfs == {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0, 5: 2.0}
    assert sum(selfs[s] for s in (1, 2, 3, 4)) == 10.0
    assert spans.op_residuals(tree()) == {1: 0.0}


def test_reduce_attributes_jobs_tasks_and_gaps_to_the_innermost_span():
    m = spans.reduce(tree(), events())
    assert m["ops.jobs"] == 1 and m["ops.stages"] == 1 and m["ops.tasks"] == 1
    assert m["ops.task_s"] == pytest.approx(0.5)
    assert m["ops.shuffle_write_bytes"] == 100
    assert m["ops.driver_gap_s"] == pytest.approx(0.4)
    assert m["spark_action.jobs"] == 1 and m["spark_action.stages"] == 2
    assert m["spark_action.tasks"] == 3 and m["spark_action.failed_tasks"] == 1
    assert m["spark_action.task_s"] == pytest.approx(2.01)
    assert m["spark_action.input_bytes"] == 100
    assert m["spark_action.driver_gap_s"] == pytest.approx(1.0)
    assert m["parity_queries.jobs"] == 0
    assert m["parity_queries.driver_gap_s"] == pytest.approx(2.0)
    assert m["parity_queries.py4j_calls"] == 7 and m["ops.py4j_calls"] == 5
    assert m["bench.self_s"] == pytest.approx(3.0)
    assert m["session.calls"] == 1 and m["session.self_s"] == pytest.approx(2.0)
    assert m["llm.calls"] == 0
    assert set(m) == {f"{layer}.{k}" for layer in spans.LAYERS
                      for k in spans.LAYER_METRICS} | {
        "spark_action.input_bytes", "warehouse.bytes_written"}


def test_tracer_nests_spans_and_tags_ops():
    t = spans.Tracer()
    with t.span("op", "bench", op=1):
        with t.span("q", "parity_queries"):
            t.wrap(lambda: None, "ops", "ops.f")()
        with t.span("w", "spark_action"):
            pass
    t.enable(False)
    with t.span("ignored", "bench", op=2):
        pass
    assert [(s.layer, s.parent, s.op) for s in t.spans] == [
        ("bench", None, 1), ("parity_queries", 1, 1), ("ops", 2, 1),
        ("spark_action", 1, 1)]
    assert abs(spans.op_residuals(t.spans)[1]) < 1e-9


def test_subtract_and_union():
    assert spans._union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert spans._subtract([(0, 10)], [(1, 2), (5, 12)]) == [(0, 1), (2, 5)]
    assert spans._subtract([(0, 1)], []) == [(0, 1)]
