"""Spans and their attribution to the engine's layers.

The runner records one span per op (build and execute phases), tags the
op's Spark jobs with the span id as their job group, and afterwards joins
the event log's jobs and stages to the spans. Each op's wall time splits
into three parts that add up to it:

- ``queries.build_self_s``: time in the plan-build call while none of the
  op's jobs runs (driver Python and py4j);
- ``operators.job_s``: the union of the op's job intervals;
- ``operators.driver_gap_s``: the rest, i.e. driver time in the sink call
  while no job runs.
"""

from __future__ import annotations

import statistics
from collections import Counter
from dataclasses import dataclass, field

from perfbench.eventlog import EventLog
from perfbench.stats import clip, self_time, union_length

MB = 1e6
# event-log timestamps are whole milliseconds
TOLERANCE_S = 0.005


@dataclass
class Span:
    span_id: str
    parent: str | None
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)


@dataclass
class OpSpan:
    span_id: str
    pass_no: int
    name: str
    start: float  # epoch seconds: build call entered
    built: float  # build call returned, sink entered
    end: float  # sink returned
    out_rows: int | None = None
    persisted_rdds_left: int = 0
    persisted_mb_left: float = 0.0
    jvm_gc_s: float = 0.0


def _metrics_for(op: OpSpan, jobs, stages, exec_metrics, cores: int) -> dict:
    lo, hi = op.start, op.end
    job_iv = [(j.submit_ms / 1e3, (j.end_ms or j.submit_ms) / 1e3) for j in jobs]
    inside = clip(job_iv, lo, hi)
    job_s = union_length(inside)
    build_self = self_time((lo, op.built), inside)
    wall = hi - lo
    m = Counter()
    for st in stages:
        m.update(st.metrics)
    shuffle_records = m["shuffle_records"]
    files = sum(
        exec_metrics.get(e, Counter())["files_written"]
        for e in {j.exec_id for j in jobs if j.exec_id is not None}
    )
    return {
        "wall_s": wall,
        "queries.build_self_s": build_self,
        "queries.build_jobs": sum(1 for j in jobs if j.submit_ms / 1e3 < op.built),
        "operators.job_s": job_s,
        "operators.driver_gap_s": wall - build_self - job_s,
        "operators.jobs": len(jobs),
        "operators.stages": len(stages),
        "operators.tasks": m["tasks"],
        "operators.executor_run_s": m["executor_run_ms"] / 1e3,
        "operators.executor_cpu_s": m["executor_cpu_ns"] / 1e9,
        "operators.cpu_util": (m["executor_cpu_ns"] / 1e9) / (job_s * cores) if job_s else 0.0,
        "operators.task_wait_s": m["task_wait_ms"] / 1e3,
        "operators.jvm_gc_s": op.jvm_gc_s,
        "operators.shuffle_write_mb": m["shuffle_write_bytes"] / MB,
        "operators.shuffle_read_mb": m["shuffle_read_bytes"] / MB,
        "operators.shuffle_records": shuffle_records,
        "operators.fetch_wait_s": m["fetch_wait_ms"] / 1e3,
        "operators.spill_mb": m["spill_bytes"] / MB,
        "operators.out_rows": op.out_rows or 0,
        "operators.out_rows_per_shuffle_record": (op.out_rows or 0) / shuffle_records
        if shuffle_records else 0.0,
        "operators.python_run_s": m["python_run_ms"] / 1e3,
        "operators.python_start_s": m["python_start_ms"] / 1e3,
        "operators.python_io_mb": m["python_io_bytes"] / MB,
        "operators.failed_tasks": m["failed_tasks"],
        "operators.retried_stages": sum(1 for s in stages if s.attempt > 0),
        "sources.input_mb": m["input_bytes"] / MB,
        "sources.records_read": m["records_read"],
        "sources.output_mb": m["output_bytes"] / MB,
        "sources.files_written": files,
        "sources.records_written": m["records_written"],
        "storage.persisted_rdds_left": op.persisted_rdds_left,
        "storage.persisted_mb_left": op.persisted_mb_left,
        # audit: every attributed job lies inside the op's span
        "audit.jobs_outside_span_s": union_length(job_iv) - job_s,
    }


def _owners(log: EventLog, ops: list[OpSpan]) -> tuple[dict, dict, int]:
    """Jobs and stages by the id of the op span they belong to, and the
    number of jobs that carried no op's job group. Jobs and stages without
    one are attributed to the op whose span holds their submission time."""
    ids = {op.span_id for op in ops}
    by_time = sorted(ops, key=lambda o: o.start)

    def owner(group: str | None, t_ms: int | None) -> str | None:
        if group in ids:
            return group
        if t_ms is None:
            return None
        t = t_ms / 1e3
        for op in by_time:
            if op.start - TOLERANCE_S <= t <= op.end + TOLERANCE_S:
                return op.span_id
        return None

    jobs: dict[str, list] = {}
    unattributed = 0
    for j in log.jobs:
        if j.group not in ids:
            unattributed += 1
        o = owner(j.group, j.submit_ms)
        if o is not None:
            jobs.setdefault(o, []).append(j)
    stages: dict[str, list] = {}
    for s in log.stages:
        o = owner(s.group, s.submit_ms)
        if o is not None:
            stages.setdefault(o, []).append(s)
    return jobs, stages, unattributed


def attribute(log: EventLog, ops: list[OpSpan], cores: int) -> tuple[list[dict], int]:
    """Per-op layer metrics, and the number of jobs that carried no op's
    job group."""
    jobs, stages, unattributed = _owners(log, ops)
    out = []
    for op in ops:
        m = _metrics_for(op, jobs.get(op.span_id, []), stages.get(op.span_id, []),
                         log.exec_metrics, cores)
        out.append({"op": op.name, "pass": op.pass_no, "span_id": op.span_id, **m})
    return out, unattributed


def span_tree(phases: list[Span], ops: list[OpSpan], log: EventLog) -> list[Span]:
    """All spans of a traced run, each parent before its children: the
    caller's run, setup, pass and check spans; under each pass its op spans
    (``pass/<n>`` is an op's parent); under each op its build and execute
    phases and the jobs and stages attributed to it."""
    jobs, stages, _ = _owners(log, ops)
    out = list(phases)
    for op in ops:
        sid = op.span_id
        out += [
            Span(sid, f"pass/{op.pass_no}", op.name, op.start, op.end),
            Span(f"{sid}/build", sid, "build", op.start, op.built),
            Span(f"{sid}/execute", sid, "execute", op.built, op.end),
        ]
        out += [
            Span(f"job/{j.job_id}", sid, "job", j.submit_ms / 1e3,
                 (j.end_ms or j.submit_ms) / 1e3, {"ok": j.ok, "group": j.group})
            for j in jobs.get(sid, [])
        ]
        out += [
            Span(f"stage/{s.stage_id}.{s.attempt}", sid, "stage", (s.submit_ms or 0) / 1e3,
                 (s.complete_ms or s.submit_ms or 0) / 1e3,
                 {"failed": s.failed, "group": s.group, **s.metrics})
            for s in stages.get(sid, [])
        ]
    return out


PASS_SUMMED = (
    "queries.build_self_s", "queries.build_jobs", "operators.job_s",
    "operators.driver_gap_s", "operators.jobs", "operators.stages",
    "operators.tasks", "operators.executor_run_s", "operators.executor_cpu_s",
    "operators.task_wait_s", "operators.jvm_gc_s", "operators.shuffle_write_mb",
    "operators.shuffle_read_mb", "operators.shuffle_records",
    "operators.fetch_wait_s", "operators.spill_mb", "operators.python_run_s",
    "operators.python_start_s", "operators.python_io_mb",
    "operators.failed_tasks", "operators.retried_stages", "sources.input_mb",
    "sources.records_read", "sources.output_mb", "sources.files_written",
    "sources.records_written", "storage.persisted_rdds_left",
    "storage.persisted_mb_left",
)


def per_pass_medians(per_op: list[dict], cores: int) -> dict[str, float]:
    """Each metric summed over the ops of a pass, then the median over
    passes. The two ratios are formed from the pass sums."""
    passes: dict[int, Counter] = {}
    for rec in per_op:
        c = passes.setdefault(rec["pass"], Counter())
        for k in (*PASS_SUMMED, "operators.out_rows"):
            c[k] += rec[k]
    rows = []
    for c in passes.values():
        r = {k: c[k] for k in PASS_SUMMED}
        r["operators.cpu_util"] = (
            c["operators.executor_cpu_s"] / (c["operators.job_s"] * cores)
            if c["operators.job_s"] else 0.0
        )
        r["operators.out_rows_per_shuffle_record"] = (
            c["operators.out_rows"] / c["operators.shuffle_records"]
            if c["operators.shuffle_records"] else 0.0
        )
        rows.append(r)
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
