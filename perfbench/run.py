#!/usr/bin/env python3
"""Run one benchmark workload against the network_iq_spark engine.

    python3 perfbench/run.py --workload panels --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds ``network_iq_spark/``. One
client drives Spark (``local[nproc]``) in a closed loop: each op starts
when the previous one has finished. The run generates its inputs from
``--seed``, starts a session, runs one untimed warm-up pass whose outputs
are collected for the output check, then runs timed passes until
``--seconds`` have elapsed, and finally checks the outputs.

With ``--trace 1`` the timed passes are followed by a second session with
the Spark event log on; the traced passes give the per-layer metrics, and
the difference from the untraced passes is the tracing overhead.

Human-readable lines go to stdout first; the last stdout line is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. Everything the run writes stays under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
MB = 1e6


def _epoch(perf: float) -> float:
    return perf + _EPOCH_OFFSET


_EPOCH_OFFSET = time.time() - time.perf_counter()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path, encoding="ascii") as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def _env(run_dir: str, nproc: int) -> None:
    """Process environment the JVM and the Python workers inherit."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the launcher's too, keeps its temp files in the run dir and
    # writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Arrow UDF workers unpickle functions from network_iq_spark
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")


class Session:
    """One SparkSession built by the engine's ``get_spark``; ``close``
    stops it, then the JVM, and waits for both the JVM and its children."""

    def __init__(self, run_dir: str, nproc: int, event_log_dir: str | None = None):
        from network_iq_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.master = f"local[{nproc}]"
        self.spark = get_spark("perfbench", master=self.master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def persisted(self) -> dict[int, float]:
        """Persisted RDD id -> MB held in memory and on disk."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        sizes = {int(i.id()): (i.memSize() + i.diskSize()) / MB for i in infos}
        ids = self.sc._jsc.getPersistentRDDs().keys()
        return {int(i): sizes.get(int(i), 0.0) for i in ids}

    def gc_seconds(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def stop(self) -> None:
        self.spark.stop()

    @staticmethod
    def shutdown_jvm() -> None:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        kids = _children(proc.pid) if proc else []
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while kids and time.monotonic() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            time.sleep(0.05)


class Runner:
    def __init__(self, wl, ctx, session: Session, seconds: float):
        self.wl, self.ctx, self.session, self.seconds = wl, ctx, session, seconds
        self.attempted = 0
        self.errors: dict[str, str] = {}
        self.spans: list = []

    def _op(self, name: str, pass_no: int, collect: bool, traced: bool, outputs=None):
        """Run one op; returns (t0, t1, t2) perf_counter stamps, or None on error."""
        from perfbench.checks import canonical_rows
        from perfbench.trace import OpSpan
        from perfbench.workloads import noop_sink

        span_id = f"p{pass_no}/{name}"
        self.attempted += 1
        sc = self.session.sc
        if traced:
            sc.setJobGroup(span_id, name)
            before, gc0 = self.session.persisted(), self.session.gc_seconds()
        try:
            op = self.wl.op(self.ctx, name)
            t0 = time.perf_counter()
            frames = op.build()
            t1 = time.perf_counter()
            if collect and op.execute is None:
                outputs[name] = [
                    canonical_rows(df.columns, [tuple(r) for r in df.collect()]) for df in frames
                ]
            else:
                (op.execute or noop_sink)(frames)
            t2 = time.perf_counter()
        except Exception:
            self.errors[span_id] = traceback.format_exc(limit=3).strip().splitlines()[-1]
            traceback.print_exc(file=sys.stderr)
            return None
        if traced:
            after, gc1 = self.session.persisted(), self.session.gc_seconds()
            new = set(after) - set(before)
            sc.setJobGroup("", "")
            self.spans.append(OpSpan(
                span_id, pass_no, name, _epoch(t0), _epoch(t1), _epoch(t2),
                persisted_rdds_left=len(new),
                persisted_mb_left=sum(after[i] for i in new),
                jvm_gc_s=gc1 - gc0,
            ))
        return t0, t1, t2

    def run_pass(self, pass_no: int, collect=False, traced=False, outputs=None) -> dict:
        self.wl.start_pass(self.ctx, pass_no)
        t = time.perf_counter()
        lat: dict[str, float] = {}
        for name in self.wl.order(self.ctx.seed, pass_no):
            stamps = self._op(name, pass_no, collect, traced, outputs)
            if stamps:
                lat[name] = stamps[2] - stamps[0]
        wall = time.perf_counter() - t
        self.wl.finish_pass(self.ctx, pass_no)
        return {"pass": pass_no, "start": _epoch(t), "wall_s": wall, "latency_s": lat}

    def timed_passes(self, first_pass: int, traced=False) -> list[dict]:
        """One pass, then more only while the next is expected to end within
        ``seconds`` of the first pass's start. Stops early after a pass in
        which every op failed."""
        out, t = [], time.perf_counter()
        while not out or (time.perf_counter() - t) + out[-1]["wall_s"] <= self.seconds:
            out.append(self.run_pass(first_pass + len(out), traced=traced))
            if not out[-1]["latency_s"]:
                break
        return out


def end_to_end(passes: list[dict]) -> dict:
    from perfbench.stats import TAIL_MIN_ABOVE, geomean, tail_percentile

    samples = [v for p in passes for v in p["latency_s"].values()]
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for k, v in p["latency_s"].items():
            per_op.setdefault(k, []).append(v)
    # too few samples for a tail above the median on most runs: printed
    # when there are enough, but not a metric of record
    tail_p, tail_v = tail_percentile(samples) if len(samples) > TAIL_MIN_ABOVE else (None, None)
    return {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "pass_walls_s": [p["wall_s"] for p in passes],
        "op_p50_s": statistics.median(samples),
        "op_tail_s": tail_v,
        "op_tail_percentile": tail_p,
        "op_geomean_s": geomean(statistics.median(v) for v in per_op.values()),
        "samples": len(samples),
        "passes": len(passes),
        "per_op_median_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
    }


def host_facts(master: str, spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "master": master,
        "python": platform.python_version(),
        "spark": spark.version,
        "java": str(spark.sparkContext._jvm.java.lang.System.getProperty("java.version")),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "network_iq_spark", "__init__.py")):
        print(f"perfbench: no network_iq_spark/ under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # import siblings as perfbench.*, and the engine from this checkout only
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(__file__)]
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(OUT_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _env(run_dir, nproc)
    load_before = os.getloadavg()
    try:
        return _run(args, wl, Context(None, os.path.join(run_dir, "data"), args.seed),
                    run_dir, nproc, load_before)
    finally:
        Session.shutdown_jvm()
        for sub in ("data", "tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)


def _run(args, wl, ctx, run_dir: str, nproc: int, load_before) -> int:
    setup: dict[str, float] = {}
    t = time.perf_counter()
    wl.prepare(ctx)
    setup["generate_s"] = time.perf_counter() - t

    t = time.perf_counter()
    session = Session(run_dir, nproc)
    ctx.spark = session.spark
    setup["session.start_s"] = time.perf_counter() - t

    t = time.perf_counter()
    import network_iq_spark.registry  # noqa: F401

    setup["registry_import_s"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.setup(ctx)
    setup["workload_setup_s"] = time.perf_counter() - t

    runner = Runner(wl, ctx, session, args.seconds)
    outputs: dict[str, list] = {}
    t = time.perf_counter()
    runner.run_pass(0, collect=True, outputs=outputs)
    setup["warmup_pass_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - T_PROCESS

    passes = runner.timed_passes(1)
    e2e = end_to_end(passes)
    rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(session.jvm_pid)
    facts = host_facts(session.master, session.spark)

    t = time.perf_counter()
    mismatches = wl.check(ctx, outputs)
    check_s = time.perf_counter() - t
    extra = wl.report(ctx, passes)

    layers = None
    if args.trace:
        from perfbench.trace import Span

        phases = [
            Span("setup", "run", "setup", _epoch(T_PROCESS), _epoch(T_PROCESS + setup_s)),
            *(Span(f"pass/{p['pass']}", "run", "pass", p["start"], p["start"] + p["wall_s"])
              for p in passes),
            Span("check", "run", "check", _epoch(t), _epoch(t + check_s)),
        ]
        layers = _traced(args, wl, ctx, session, run_dir, nproc, outputs, e2e, setup, phases)
    else:
        session.stop()

    attempted = runner.attempted + (layers["attempted"] if layers else 0)
    errors = {**runner.errors, **(layers["errors"] if layers else {})}
    failed = len(errors) + len(mismatches)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup": setup, "check_s": check_s,
        "end_to_end": {**e2e, "setup_s": setup_s, "peak_rss_mb": rss,
                       "failed_frac": failed / attempted, **extra},
        "errors": errors, "mismatches": mismatches,
        "host": {**facts, "loadavg_before": load_before, "loadavg_after": os.getloadavg()},
    }
    if layers is not None:
        report["per_layer"] = layers
    with open(os.path.join(run_dir, "result.json"), "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    _print_report(report)

    if args.trace:
        metrics = {
            k: {"value": v, "unit": u}
            for k, (v, u) in layers["metrics"].items() if k not in WRITE_LAYERS
        }
    else:
        metrics = {
            name: {"value": report["end_to_end"][name], "unit": unit}
            for name, unit in E2E_UNITS.items()
        }
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted,
        "failed": failed, "metrics": metrics,
    }))
    return 0


# the end-to-end metrics of record; the others are printed only
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_geomean_s": "s"}
E2E_PRINTED = {
    "peak_rss_mb": "MB", "op_tail_s": "s", "failed_frac": "ratio",
    "ingest_rows_per_s": "rows/s", "stored_bytes_per_input_byte": "ratio",
}


def _traced(args, wl, ctx, session, run_dir, nproc, outputs, e2e, setup, phases) -> dict:
    """Restart the session with the event log on, run one warm-up pass and
    then traced passes, and attribute the log to the traced op spans.
    Writes ``trace.json`` (per-op metrics) and ``spans.jsonl`` (the span
    tree) to the run directory."""
    from perfbench import eventlog, trace

    session.stop()
    log_dir = os.path.join(run_dir, "eventlog")
    t = time.perf_counter()
    traced = Session(run_dir, nproc, event_log_dir=log_dir)
    ctx.spark = traced.spark
    runner = Runner(wl, ctx, traced, args.seconds)
    # the new context starts cold (SparkEnv, Python worker daemon, block
    # manager), so the traced passes follow a warm-up pass, as the timed ones do
    runner.run_pass(e2e["passes"] + 1)
    phases.append(trace.Span("traced_setup", "run", "setup", _epoch(t), _epoch(time.perf_counter())))
    passes = runner.timed_passes(e2e["passes"] + 2, traced=True)
    traced.stop()
    phases += [
        trace.Span(f"pass/{p['pass']}", "run", "pass", p["start"], p["start"] + p["wall_s"],
                   {"traced": True})
        for p in passes
    ]
    [path] = glob.glob(os.path.join(log_dir, "*"))
    # the warm-up pass's jobs belong to no traced op
    log = eventlog.read(path).since(passes[0]["start"])
    rows = {name: sum(len(r) for _c, r in outs) for name, outs in outputs.items()}
    for span in runner.spans:
        span.out_rows = rows.get(span.name)
    per_op, unattributed = trace.attribute(log, runner.spans, nproc)
    medians = trace.per_pass_medians(per_op, nproc)
    traced_pass = statistics.median(p["wall_s"] for p in passes)
    metrics = {"session.start_s": (setup["session.start_s"], "s")}
    for k, v in medians.items():
        metrics[k] = (v, LAYER_UNITS[k])
    metrics["unattributed_jobs"] = (unattributed, "count")
    metrics["trace_overhead_s"] = (traced_pass - e2e["pass_s"], "s")
    metrics["audit_failures"] = (len(audit_failures := [
        r["span_id"] for r in per_op
        if r["operators.driver_gap_s"] < -trace.TOLERANCE_S
        or r["audit.jobs_outside_span_s"] > trace.TOLERANCE_S
    ]), "count")
    with open(os.path.join(run_dir, "trace.json"), "w", encoding="utf-8") as f:
        json.dump({"op_spans": [vars(s) for s in runner.spans], "per_op": per_op}, f, indent=1)
    run_span = trace.Span("run", None, "run", _epoch(T_PROCESS), time.time(),
                          {"workload": args.workload, "seed": args.seed})
    with open(os.path.join(run_dir, "spans.jsonl"), "w", encoding="utf-8") as f:
        for span in [run_span, *trace.span_tree(phases, runner.spans, log)]:
            f.write(json.dumps(vars(span), default=str) + "\n")
    return {
        "metrics": metrics,
        "traced_pass_s": traced_pass,
        "traced_passes": len(passes),
        "per_op": per_op,
        "audit_failures": audit_failures,
        "errors": runner.errors,
        "attempted": runner.attempted,
    }


LAYER_UNITS = {
    "queries.build_self_s": "s", "queries.build_jobs": "count",
    "operators.job_s": "s", "operators.driver_gap_s": "s",
    "operators.jobs": "count", "operators.stages": "count", "operators.tasks": "count",
    "operators.executor_run_s": "s", "operators.executor_cpu_s": "s",
    "operators.cpu_util": "ratio", "operators.task_wait_s": "s",
    "operators.jvm_gc_s": "s", "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB", "operators.shuffle_records": "count",
    "operators.fetch_wait_s": "s", "operators.spill_mb": "MB",
    "operators.out_rows_per_shuffle_record": "ratio",
    "operators.python_run_s": "s", "operators.python_start_s": "s",
    "operators.python_io_mb": "MB", "operators.failed_tasks": "count",
    "operators.retried_stages": "count", "sources.input_mb": "MB",
    "sources.records_read": "count", "sources.output_mb": "MB",
    "sources.files_written": "count", "sources.records_written": "count",
    "storage.persisted_rdds_left": "count", "storage.persisted_mb_left": "MB",
}
# only ingest_refresh writes, so these are printed but are not metrics of record
WRITE_LAYERS = ("sources.output_mb", "sources.files_written", "sources.records_written")


def _print_report(r: dict) -> None:
    e = r["end_to_end"]
    print(f"workload {r['workload']} seed {r['seed']}: {e['passes']} timed passes, "
          f"{e['samples']} op samples; host {json.dumps(r['host'])}")
    print("setup " + " ".join(f"{k}={v:.3f}" for k, v in r["setup"].items()))
    for name, unit in {**E2E_UNITS, **E2E_PRINTED}.items():
        if name == "op_tail_s" and e[name] is None:
            print(f"  {name:<30} {'-':>14} {unit} (n={e['samples']}: too few samples)")
        elif name in e:
            note = f" (p{e['op_tail_percentile']}, n={e['samples']})" if name == "op_tail_s" else ""
            print(f"  {name:<30} {e[name]:>14.6g} {unit}{note}")
    for name, v in e["per_op_median_s"].items():
        print(f"  op {name:<36} median {v:.4f} s")
    for k, why in {**r["errors"], **r["mismatches"]}.items():
        print(f"  FAILED {k}: {why}")
    layers = r.get("per_layer")
    if layers:
        print(f"traced: {layers['traced_passes']} passes, pass_s {layers['traced_pass_s']:.3f}, "
              f"audit failures {layers['audit_failures']}")
        for k, (v, unit) in layers["metrics"].items():
            print(f"  {k:<40} {v:>14.6g} {unit}")
        by_op: dict[str, list[dict]] = {}
        for rec in layers["per_op"]:
            by_op.setdefault(rec["op"], []).append(rec)
        for name, recs in sorted(by_op.items()):
            med = {k: statistics.median(r[k] for r in recs) for k in ("wall_s", *LAYER_UNITS)}
            print(f"  op {name} (median of {len(recs)}): "
                  + " ".join(f"{k}={v:.4g}" for k, v in med.items()))


if __name__ == "__main__":
    sys.exit(main())
