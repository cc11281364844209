#!/usr/bin/env python
"""BENCH harness: run the registered queries at $SPARK_GRAFT_SF_DIR and
print one JSON line ``{"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...}``.

  python bench.py              # full suite; writes bench_full.json at sf0.1
  python bench.py NAME...      # only the named queries; writes no artifact

Per-query timing = full plan execution to a noop sink (results are
consumed, never collected to the driver in bulk). Each query repeats until
its readings settle (``_settled``), every reading goes to stderr, and the
query's time is their min. A warmup run of the first query absorbs JVM
startup; each query's own first runs absorb the compiles of its generated
classes, which the session keeps for the rest of the suite
(``session.py``). ``codegen_compiles`` in the artifact holds, per query,
the classes its final run compiled: 0 once the query's plan has settled.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Under this many seconds, JVM and host jitter alone fake >1.5x moves:
# the stopping rule repeats such queries until they settle, and the drift
# comparators exempt a query under it on both sides of a comparison.
NOISE_FLOOR_SEC = 1.2

# The stopping rule: a query runs MIN_RUNS times and stops there if its min
# is at least NOISE_FLOOR_SEC and all its readings are within WARMUP x of
# that min. Otherwise it is warming up — a query's first run in a hot JVM
# can cost 3-9x its steady state (Python-worker warm-up, first-run JIT of a
# new plan shape) — or it is short enough for jitter to dominate; then it
# repeats until its last two readings both fall within EPS of the running
# min, at most MAX_RUNS times. On the recorded first-run sequences
# (tests/test_bench_gate.py) it stops within 1.09x of each sequence's min
# at or above NOISE_FLOOR_SEC, and within 1.20x below it. Without the
# WARMUP exit every query waits for EPS, and on a shared 4-core host at
# sf0.1 run-to-run noise of 10-30% kept 101-104 of 215 queries from
# settling before MAX_RUNS, which cost 1.5-1.85x the suite's wall time.
# Without the floor on that exit, most queries under it stopped at two
# runs and their summed min read 10-13% above the old rule's (up to five
# runs each); with it, the two agree within 3%.
EPS = 0.05
WARMUP = 1.5
MIN_RUNS, MAX_RUNS = 2, 6


def _settled(readings: list[float]) -> bool:
    """True once ``readings`` satisfy the stopping rule (NOISE_FLOOR_SEC,
    EPS, WARMUP, MIN_RUNS, MAX_RUNS above)."""
    if len(readings) >= MAX_RUNS:
        return True
    if len(readings) < MIN_RUNS:
        return False
    m = min(readings)
    if m >= NOISE_FLOOR_SEC and max(readings) <= m * WARMUP:
        return True
    return all(r <= m * (1 + EPS) for r in readings[-2:])


def _compiled(spark) -> int:
    """Classes the JVM's code generator has compiled so far (cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_once(spark, query, sf_dir: str) -> tuple[float, int]:
    """One timed run of ``query`` (a registry builder) to a noop sink: its
    seconds and the generated classes it compiled. After the run, outside
    the timer, every RDD persisted during it is unpersisted: the engine's
    ``localCheckpoint`` blocks are otherwise freed only once the JVM
    collects their owners, and that cleanup lands inside whichever query
    runs next."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    compiled = _compiled(spark)
    try:
        t0 = time.perf_counter()
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, _compiled(spark) - compiled
    finally:
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid not in before:
                rdd.unpersist(True)


def _time_query(spark, query, sf_dir: str) -> list[tuple[float, int]]:
    """Every run of ``query`` as ``_run_once`` gives it, until the
    readings settle."""
    runs: list[tuple[float, int]] = []
    while not _settled([sec for sec, _ in runs]):
        runs.append(_run_once(spark, query, sf_dir))
    return runs


def _artifact_path(sf: str, names_run: bool) -> str | None:
    """Where the run's full artifact goes: ``bench_full.json`` for a
    full-suite sf0.1 run, else nowhere. A names run or a non-canonical SF
    run (e.g. the verify recipe's sf0.001 pass) must not clobber the
    committed sf0.1 artifact — round 8 shipped three commits with sf0.001
    numbers in bench_full.json before this guard existed."""
    if names_run or sf != "0.1":
        return None
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")


def _host_snapshot() -> dict:
    """One /proc-level reading of host pressure (loadavg + cpu count).
    Taken before AND after the measured loop so a round-close artifact
    carries the evidence needed to separate host drift from plan
    regression — three consecutive rounds of creeper forensics ended in
    "loaded host" without a recorded load (r10 VERDICT item 2)."""
    snap: dict = {"cpus": os.cpu_count()}
    try:
        snap["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        snap["loadavg"] = None
    return snap


def main() -> None:
    from network_iq_spark.registry import QUERIES
    from network_iq_spark.session import get_spark

    picked = sys.argv[1:]
    unknown = [n for n in picked if n not in QUERIES]
    if unknown:
        raise SystemExit(f"bench.py: unknown queries: {', '.join(unknown)}")
    names = picked or sorted(QUERIES)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    full_path = _artifact_path(sf, names_run=bool(picked))

    host_before = _host_snapshot()
    # Warn-tag (don't refuse — the round driver's bench must still produce
    # an artifact): external load at start means the timings will read high
    # through no fault of the plans. The tag rides in the artifact so later
    # forensics can discount the round. Threshold 0.1x cpus (r12, VERDICT
    # item 2): the original 0.25x gate passed the r11 driver run at
    # loadavg 5.37/32 — a run whose Arrow-heavy decodes then inflated up
    # to 5.8x vs floor — i.e. the gate failed on exactly the case it was
    # built for. Measured inflation starts well below a quarter of the
    # cores because the suite itself saturates the machine, so any
    # resident external load steals directly from the measured loop.
    load1 = (host_before.get("loadavg") or [0.0])[0]
    cpus = host_before.get("cpus") or 1
    host_loaded = load1 > 0.1 * cpus
    if host_loaded:
        print(
            f"BENCH HOST LOADED: loadavg1={load1} on {cpus} cpus before "
            "start — timings are suspect; artifact is warn-tagged",
            file=sys.stderr,
        )

    spark = get_spark(app_name="network-iq-spark-bench")
    spark.sparkContext.setLogLevel("WARN")

    # warmup: touch every table + run the first query once
    try:
        _run_once(spark, QUERIES[names[0]], SF_DIR)
    except Exception:
        pass  # the measured loop will record the failure per-query

    # A query that raises is recorded under "errors" and skipped — one
    # broken plan must never cost the round its entire BENCH artifact.
    timings: dict[str, float] = {}
    readings: dict[str, list[float]] = {}
    codegen_compiles: dict[str, int] = {}
    errors: dict[str, str] = {}
    for n in names:
        try:
            runs = _time_query(spark, QUERIES[n], SF_DIR)
        except Exception as exc:  # noqa: BLE001 — keep benching the rest
            errors[n] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"BENCH ERROR {n}: {errors[n]}", file=sys.stderr)
            continue
        readings[n] = [round(sec, 4) for sec, _ in runs]
        codegen_compiles[n] = runs[-1][1]
        timings[n] = min(readings[n])
        print(f"BENCH {n}: min={timings[n]}s readings={readings[n]}", file=sys.stderr)

    total = round(sum(timings.values()), 4)
    # Drift watchdog (r9, VERDICT item 5): diff this run against the
    # previous committed bench_full.json and embed the comparison IN the
    # artifact, so a drifting query is caught the round it moves instead of
    # at judge time (r8's minhash drift sat unflagged for a full round).
    drift = _drift_vs_committed(timings, full_run=not picked)
    if drift:
        movers = drift.get("moves_gt_1_5x") or {}
        if movers:
            print(
                "BENCH DRIFT >1.5x vs committed bench_full.json: "
                + ", ".join(f"{k}={v}x" for k, v in sorted(movers.items())),
                file=sys.stderr,
            )
        if drift.get("missing_queries"):
            print(
                "BENCH MISSING vs committed bench_full.json (errored or "
                "removed): " + ", ".join(drift["missing_queries"]),
                file=sys.stderr,
            )
    # Slow-creep watchdog (r10, VERDICT item 2): vs_committed only sees one
    # round of movement, so a query drifting <1.5x/round compounds
    # invisibly (three queries reached 1.55-1.82x their earliest records
    # without ever flagging). bench_floor.json pins each query's EARLIEST
    # committed sf0.1 record; the cumulative ratio is compared against
    # that. New queries are appended to the floor file at their first
    # recorded value, existing floors are never rewritten — the file stays
    # "earliest record" by construction. Both the update AND the
    # comparison run only on runs that write the artifact: a names or
    # sf0.001 run would otherwise print CREEP warnings against
    # incomparable floors (r10 ADVICE). The update additionally requires
    # an unloaded host: self-seeding a floor from a loaded-host run would
    # pin it high and mask later creep.
    vs_floor = _drift_vs_floor(timings, update=not host_loaded) if full_path else None
    if vs_floor:
        for key in ("moves_gt_1_5x_vs_floor", "moves_gt_1_8x_vs_floor"):
            if vs_floor.get(key):
                print(
                    f"BENCH CREEP {key.replace('_vs_floor', '')} vs earliest "
                    "record: " + ", ".join(
                        f"{k}={v}x" for k, v in sorted(vs_floor[key].items())
                    ),
                    file=sys.stderr,
                )
    # Auto re-time of alarm-band flags (r12, VERDICT item 2): a >1.8x
    # vs-floor reading taken mid-suite is ambiguous — plan regression vs
    # transient host/warm-up contention — and r10/r11 each burned a round
    # of forensics resolving exactly this. Re-time every alarm query at
    # tail-of-suite under the same stopping rule and ship BOTH readings in
    # the artifact, so the flag arrives with its own grounding: a retimed
    # ratio back near the floor attributes the suite reading to
    # contention; a retimed ratio still >1.8x is a real regression.
    # r13 (VERDICT item 2): on a warn-tagged (loaded-at-start) run, the
    # 1.5-1.8x warn band is almost certainly the same contention as the
    # alarm band but previously shipped with no self-grounding — the r12
    # driver run had six such entries needing cross-round forensics.
    # Extend the auto-retime to the warn band, but ONLY when the host
    # gate tripped: an idle run's warn band is the cross-round creep
    # watchlist, where a tail-of-suite retime adds nothing the next
    # idle run wouldn't show.
    retime_bands = (
        _retime_targets(vs_floor, host_loaded)
        if vs_floor and not os.environ.get("BENCH_NO_RETIME")
        else {}
    )
    if retime_bands:
        try:
            floors = (
                json.load(open(os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "bench_floor.json",
                ))).get("floors") or {}
            )
        except (OSError, ValueError):
            floors = {}
        retimed_by_band: dict[str, dict[str, dict]] = {"alarm": {}, "warn": {}}
        for n in sorted(retime_bands):
            retimed = retimed_by_band[retime_bands[n]]
            # r12 ADVICE: the retime itself runs on a possibly-still-
            # contended host; record the loadavg alongside each reading so
            # a "still high" retimed number carries its own load evidence
            try:
                load_now = [round(x, 2) for x in os.getloadavg()]
            except OSError:
                load_now = None
            try:
                rs = [round(sec, 4) for sec, _ in _time_query(spark, QUERIES[n], SF_DIR)]
            except Exception as exc:  # noqa: BLE001 — keep grounding the rest
                retimed[n] = {"err": f"{type(exc).__name__}: {exc}"[:200]}
                continue
            best = min(rs)
            f = (floors.get(n) or {}).get("sec")
            entry = {
                "suite_sec": timings[n],
                "retimed_sec": best,
                "retimed_readings": rs,
                "loadavg_at_retime": load_now,
            }
            if f:
                entry["retimed_vs_floor"] = round(best / f, 2)
            retimed[n] = entry
            print(
                f"BENCH RETIME {n}: suite={timings[n]}s retimed={best}s"
                + (f" ({entry['retimed_vs_floor']}x vs floor)" if f else ""),
                file=sys.stderr,
            )
        if retimed_by_band["alarm"]:
            vs_floor["retimed_gt_1_8x"] = retimed_by_band["alarm"]
        if retimed_by_band["warn"]:
            vs_floor["retimed_warn_band_1_5x"] = retimed_by_band["warn"]
    # Full per-query visibility lives in bench_full.json (committed to the
    # repo each round): at 100+ registered queries the names alone cost
    # 92 * (avg 16.7 chars + 5 for quotes/colon/comma) ~= 2,000 chars, so the
    # complete dict can NEVER fit the driver's ~2000-char stdout tail no
    # matter how the values are encoded. The file carries every reading at
    # full precision plus run metadata; the stdout line below stays the
    # driver-facing summary.
    if full_path:
        with open(full_path, "w") as fh:
            json.dump(
                {
                    "metric": "operator_suite_sec",
                    "value": total,
                    "unit": "sec",
                    # bump when the watchdog/retime schema gains fields, so
                    # tests can scope schema assertions to artifacts the
                    # current code actually wrote
                    "gate_rev": 15,
                    "sf": float(sf),
                    "stop_rule": {
                        "eps": EPS, "warmup": WARMUP,
                        "min_runs": MIN_RUNS, "max_runs": MAX_RUNS,
                    },
                    "n_queries": len(timings),
                    "queries": timings,
                    "readings": readings,
                    "codegen_compiles": codegen_compiles,
                    "errors": errors,
                    "vs_committed": drift,
                    "vs_floor": vs_floor,
                    "host": {
                        "before": host_before,
                        "after": _host_snapshot(),
                        "loaded_at_start": host_loaded,
                    },
                },
                fh,
                indent=1,
                sort_keys=True,
            )

    # The round driver keeps only a ~2000-char tail of our output and parses
    # the JSON line out of it: r1's 51-query line (1524 chars) parsed, r2's
    # 69-query line (2155 chars) was truncated mid-line and recorded as
    # parsed=null. Emit compactly (no spaces, 2-decimal secs) and, if the
    # registry ever outgrows even that, shed the fastest entries first so the
    # line stays parseable and keeps the queries that dominate the suite.
    def _line(q: dict[str, float]) -> str:
        out = {
            "metric": "operator_suite_sec",
            "value": round(total, 2),
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in q.items()},
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "n_queries": len(timings),
        }
        if len(q) < len(timings):
            out["full"] = "bench_full.json"  # complete dict, committed in-repo
        if errors:
            out["errors"] = {k: v[:80] for k, v in errors.items()}
        return json.dumps(out, separators=(",", ":"))

    keep = dict(timings)
    line = _line(keep)
    while len(line) > 1900 and keep:
        fastest = min(keep, key=keep.get)
        del keep[fastest]
        line = _line(keep)
    if len(line) > 1900 and errors:
        # errors alone overflow the budget: collapse to a count so the
        # timing contract always survives the driver's tail capture
        errors = {"error_count": str(len(errors))}
        line = _line(keep)
    print(line)


def _drift_vs_committed(timings: dict[str, float], full_run: bool = True) -> dict | None:
    """Comparison block vs the last committed bench_full.json (the
    git-HEAD copy, so the driver's own post-commit rerun of THIS round
    never masks a drift by comparing a run to itself). Returns None when
    no usable prior artifact exists. Queries under NOISE_FLOOR_SEC on
    BOTH sides are exempt from the movers list. ``missing_queries``
    lists names present in the committed artifact but absent from this
    run's timings — a query that regressed into an ERROR or was removed
    produces no drift ratio, which is exactly the silent-regression class
    the watchdog exists to catch."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        blob = subprocess.run(
            ["git", "-C", here, "show", "HEAD:bench_full.json"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout
        prev = json.loads(blob)
    except Exception:  # noqa: BLE001 — no git / no prior artifact: skip
        return None
    prev_q = prev.get("queries") or {}
    if not prev_q:
        return None
    movers = {}
    for n, sec in timings.items():
        p = prev_q.get(n)
        if not p or p <= 0:
            continue
        if sec < NOISE_FLOOR_SEC and p < NOISE_FLOOR_SEC:
            continue
        ratio = sec / p
        if ratio > 1.5:
            movers[n] = round(ratio, 2)
    return {
        "prev_total": prev.get("value"),
        "prev_n_queries": prev.get("n_queries"),
        "new_queries": sorted(n for n in timings if n not in prev_q),
        # only meaningful on a full-suite run: a names run would report
        # every query it left out as "missing"
        "missing_queries": sorted(n for n in prev_q if n not in timings)
        if full_run
        else [],
        "moves_gt_1_5x": movers,
    }


def _retime_targets(vs_floor: dict, host_loaded: bool) -> dict[str, str]:
    """Which vs-floor movers get a tail-of-suite re-time, and under which
    artifact key. Alarm-band (>1.8x) entries ALWAYS retime — that is the
    r12 contract. Warn-band (1.5-1.8x) entries retime only on a
    warn-tagged (loaded-at-start) run: there they are almost certainly
    the same contention as the alarm band and must ship self-grounded
    (r12 driver run: six warn entries, zero grounding); on an idle run
    the warn band is the cross-round creep watchlist and a same-session
    retime adds no information the next idle run wouldn't."""
    bands = {n: "alarm" for n in vs_floor.get("moves_gt_1_8x_vs_floor") or {}}
    if host_loaded:
        for n in vs_floor.get("moves_gt_1_5x_vs_floor") or {}:
            bands.setdefault(n, "warn")
    return bands


def _drift_vs_floor(timings: dict[str, float], update: bool) -> dict | None:
    """Cumulative-creep block vs bench_floor.json (each query's earliest
    committed sf0.1 record; seeded by scripts/bench_floor_seed.py).
    Two thresholds: >1.5x is the watchlist (compounding slower than the
    per-round watchdog can see), >1.8x is the alarm band approaching the
    2x rule. Same NOISE_FLOOR_SEC exemption as vs_committed. With
    ``update`` (canonical full sf0.1 runs only), queries not yet in the
    floor file are appended at this run's value — this code never
    modifies an existing floor.

    Manual re-pin policy (the one sanctioned exception to "earliest
    record"; r12 ADVICE): when a query's registered COMPOSITION changes
    (e.g. transform_dedup_census gaining arms), its old floor measures a
    different plan and comparing against it manufactures fake creep. A
    human (never this code) may then re-pin that floor from an idle-host
    min-of-N run of the NEW shape, and the entry's ``src`` field must
    carry the provenance: what changed, the superseded floor value, and
    the exact shape (e.g. arm count) the new number was measured on — so
    the file stays auditable as "earliest record of the current shape"."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "bench_floor.json")
    try:
        rec = json.load(open(path))
        floors = rec.get("floors") or {}
    except (OSError, ValueError):
        return None
    watch, alarm = {}, {}
    for n, sec in timings.items():
        f = (floors.get(n) or {}).get("sec")
        if not f or f <= 0 or (sec < NOISE_FLOOR_SEC and f < NOISE_FLOOR_SEC):
            continue
        ratio = round(sec / f, 2)
        if ratio > 1.8:
            alarm[n] = ratio
        elif ratio > 1.5:
            watch[n] = ratio
    fresh = sorted(n for n in timings if n not in floors)
    if update and fresh:
        for n in fresh:
            floors[n] = {"sec": timings[n], "src": "self-seeded"}
        rec["floors"] = floors
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
    return {
        "floor_file": "bench_floor.json",
        "self_seeded": fresh,
        "moves_gt_1_5x_vs_floor": watch,
        "moves_gt_1_8x_vs_floor": alarm,
    }


if __name__ == "__main__":
    main()
