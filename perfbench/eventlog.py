"""Parse an uncompressed Spark event log into jobs and stages carrying
summed task metrics, so the benchmark can attribute them to its op spans.

Stages are attributed through the job group that was set when they were
submitted (``spark.jobGroup.id`` in the stage properties), so a stage that
a job lists but skips is never counted twice. Jobs and stages without a
group, such as those launched from pool threads that did not inherit the
caller's local properties, keep ``group=None``; the caller attributes
them by time and reports how many there were.
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Iterable
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
EXEC_KEY = "spark.sql.execution.id"

# SQL metrics that Python-evaluating operators attach to each task's
# accumulables ("timing" metrics are in ms, "size" metrics in bytes)
PY_RUN = "time to run Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_IO = ("data sent to Python workers", "data returned from Python workers")
FILES_WRITTEN = "number of written files"


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    ok: bool | None = None
    exec_id: int | None = None


@dataclass
class Stage:
    stage_id: int
    attempt: int
    group: str | None
    submit_ms: int | None
    complete_ms: int | None = None
    failed: bool = False
    metrics: Counter = field(default_factory=Counter)


@dataclass
class EventLog:
    jobs: list[Job]
    stages: list[Stage]
    # driver-side SQL metrics (e.g. files written) summed per SQL execution
    exec_metrics: dict[int, Counter]

    def since(self, t: float) -> EventLog:
        """The jobs and stages submitted at or after epoch second ``t``;
        stages with no submission time are kept."""
        t_ms = int(t * 1e3)
        return EventLog(
            [j for j in self.jobs if j.submit_ms >= t_ms],
            [s for s in self.stages if s.submit_ms is None or s.submit_ms >= t_ms],
            self.exec_metrics,
        )


def _props_group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_KEY) or None


def _task_metrics(event: dict, stage: Stage | None) -> Counter:
    info = event.get("Task Info", {})
    tm = event.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    inp = tm.get("Input Metrics", {})
    out = tm.get("Output Metrics", {})
    c = Counter(
        tasks=1,
        failed_tasks=int(bool(info.get("Failed"))),
        executor_run_ms=tm.get("Executor Run Time", 0),
        executor_cpu_ns=tm.get("Executor CPU Time", 0),
        jvm_gc_ms=tm.get("JVM GC Time", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        shuffle_records=sw.get("Shuffle Records Written", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        spill_bytes=tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        input_bytes=inp.get("Bytes Read", 0),
        records_read=inp.get("Records Read", 0),
        output_bytes=out.get("Bytes Written", 0),
        records_written=out.get("Records Written", 0),
    )
    if stage is not None and stage.submit_ms is not None and "Launch Time" in info:
        c["task_wait_ms"] = max(0, info["Launch Time"] - stage.submit_ms)
    for acc in info.get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == PY_RUN:
            c["python_run_ms"] += int(upd)
        elif name in PY_START:
            c["python_start_ms"] += int(upd)
        elif name in PY_IO:
            c["python_io_bytes"] += int(upd)
    return c


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def parse(lines: Iterable[str]) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    accum_names: dict[int, str] = {}
    exec_metrics: dict[int, Counter] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get(EXEC_KEY)
            jobs[e["Job ID"]] = Job(
                e["Job ID"], _props_group(props), e["Submission Time"],
                exec_id=int(exec_id) if exec_id is not None else None,
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
                job.ok = e.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            stages[key] = Stage(
                *key, _props_group(e.get("Properties")), si.get("Submission Time")
            )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            st = stages.setdefault(key, Stage(*key, None, si.get("Submission Time")))
            st.submit_ms = st.submit_ms or si.get("Submission Time")
            st.complete_ms = si.get("Completion Time")
            st.failed = "Failure Reason" in si
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            st = stages.setdefault(key, Stage(*key, None, None))
            st.metrics.update(_task_metrics(e, st))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_names(e.get("sparkPlanInfo", {}), accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            c = exec_metrics.setdefault(e["executionId"], Counter())
            for acc_id, value in e.get("accumUpdates", []):
                if accum_names.get(acc_id) == FILES_WRITTEN:
                    c["files_written"] += int(value)
    return EventLog(
        sorted(jobs.values(), key=lambda j: j.job_id),
        sorted(stages.values(), key=lambda s: (s.stage_id, s.attempt)),
        exec_metrics,
    )


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)
