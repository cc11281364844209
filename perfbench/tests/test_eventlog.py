import os

import pytest

from perfbench import eventlog, trace

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.read(LOG)


def test_parse_jobs_and_groups(log):
    assert [(j.job_id, j.group, j.submit_ms, j.end_ms, j.ok) for j in log.jobs] == [
        (0, "p1/a", 1000, 1500, True),
        (1, None, 1600, 1800, True),
        (2, None, 5000, 5100, True),
    ]
    assert log.jobs[0].exec_id == 0


def test_parse_failed_task_and_retried_stage(log):
    by_key = {(s.stage_id, s.attempt): s for s in log.stages}
    first, retry = by_key[(0, 0)], by_key[(0, 1)]
    assert first.failed and not retry.failed
    assert first.metrics["tasks"] == 2 and first.metrics["failed_tasks"] == 1
    assert first.metrics["spill_bytes"] == 1_500_000
    # launch time minus the submission time of the task's own stage attempt
    assert first.metrics["task_wait_ms"] == 10 + 20
    assert retry.metrics["task_wait_ms"] == 5
    assert retry.metrics["shuffle_read_bytes"] == 1_250_000


def test_parse_python_worker_metrics(log):
    m = {(s.stage_id, s.attempt): s for s in log.stages}[(0, 0)].metrics
    assert m["python_run_ms"] == 40
    assert m["python_start_ms"] == 3 + 7
    assert m["python_io_bytes"] == 1500


def test_since_drops_earlier_jobs_and_stages(log):
    later = log.since(1.6)
    assert [j.job_id for j in later.jobs] == [1, 2]
    assert all(s.submit_ms is None or s.submit_ms >= 1600 for s in later.stages)
    assert len(later.stages) < len(log.stages)


def test_parse_driver_side_files_written(log):
    assert log.exec_metrics[0]["files_written"] == 3


def test_attribute_splits_wall_time_and_counts_untagged_jobs(log):
    op = trace.OpSpan("p1/a", 1, "a", start=0.9, built=1.1, end=1.9, out_rows=40)
    [rec], unattributed = trace.attribute(log, [op], cores=2)
    # job 1 carries no group but ran inside the span: attributed by time,
    # and counted; job 2 ran outside every span
    assert unattributed == 2
    assert rec["operators.jobs"] == 2
    assert rec["queries.build_jobs"] == 1
    assert rec["operators.job_s"] == pytest.approx(0.7)
    assert rec["queries.build_self_s"] == pytest.approx(0.1)
    assert rec["operators.driver_gap_s"] == pytest.approx(0.2)
    total = rec["queries.build_self_s"] + rec["operators.job_s"] + rec["operators.driver_gap_s"]
    assert total == pytest.approx(rec["wall_s"])
    assert rec["audit.jobs_outside_span_s"] == pytest.approx(0.0)
    assert rec["operators.stages"] == 3
    assert rec["operators.retried_stages"] == 1
    assert rec["operators.tasks"] == 4
    assert rec["operators.failed_tasks"] == 1
    assert rec["operators.executor_cpu_s"] == pytest.approx(0.335)
    assert rec["operators.cpu_util"] == pytest.approx(0.335 / (0.7 * 2))
    assert rec["operators.shuffle_records"] == 100
    assert rec["operators.out_rows_per_shuffle_record"] == pytest.approx(0.4)
    assert rec["operators.python_run_s"] == pytest.approx(0.04)
    assert rec["sources.input_mb"] == pytest.approx(3.0)
    assert rec["sources.records_written"] == 10
    assert rec["sources.files_written"] == 3


def test_per_pass_medians_sum_each_pass(log):
    recs = [
        {"op": "a", "pass": p, **{k: v for k in trace.PASS_SUMMED}, "operators.out_rows": 0}
        for p, v in ((1, 1.0), (1, 2.0), (2, 5.0), (3, 4.0))
    ]
    med = trace.per_pass_medians(recs, cores=1)
    # pass sums are 3, 5 and 4
    assert med["operators.job_s"] == 4.0
    assert med["operators.cpu_util"] == 1.0


def test_span_tree_puts_jobs_and_stages_under_their_op(log):
    op = trace.OpSpan("p1/a", 1, "a", start=0.9, built=1.1, end=1.9)
    phases = [trace.Span("pass/1", "run", "pass", 0.8, 2.0)]
    spans = trace.span_tree(phases, [op], log)
    ids = {"run"}
    for s in spans:
        assert s.parent in ids  # each parent comes before its children
        ids.add(s.span_id)
    under_op = {s.span_id for s in spans if s.parent == "p1/a"}
    assert under_op == {
        "p1/a/build", "p1/a/execute", "job/0", "job/1", "stage/0.0", "stage/0.1", "stage/1.0",
    }
