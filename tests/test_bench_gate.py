"""Unit tests for bench.py: its watchdog arithmetic — the creeper-forensics
machinery that r10–r12 hardened (floor comparison bands, noise-floor
exemption, self-seeding, and the r12 host-gate threshold) — plus the
stopping rule, the artifact guard and the per-run storage release.
bench.py is a script, but its functions import cleanly; a regression here
silently re-opens a class of cross-round forensics the repo already paid
for three times."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def bench(tmp_path, monkeypatch):
    """Import bench.py as a module with its floor file redirected to a
    temp copy, so tests never touch the committed artifact."""
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(_HERE, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    floors = {
        "fast_query": {"sec": 0.30, "src": "seed"},
        "slow_query": {"sec": 2.00, "src": "seed"},
        "mid_query": {"sec": 1.00, "src": "seed"},
    }
    fpath = tmp_path / "bench_floor.json"
    fpath.write_text(json.dumps({"floors": floors}))
    real_join = os.path.join

    def fake_join(*parts):
        if parts and parts[-1] == "bench_floor.json":
            return str(fpath)
        return real_join(*parts)

    monkeypatch.setattr(mod.os.path, "join", fake_join)
    return mod, fpath


def test_vs_floor_bands_and_noise_exemption(bench):
    mod, _ = bench
    out = mod._drift_vs_floor(
        {
            "fast_query": 0.90,   # 3.0x but BOTH sides under 1.2s -> exempt
            "slow_query": 3.30,   # 1.65x -> watch band
            "mid_query": 2.10,    # 2.1x, floor under noise but reading over
        },
        update=False,
    )
    assert "fast_query" not in out["moves_gt_1_5x_vs_floor"]
    assert "fast_query" not in out["moves_gt_1_8x_vs_floor"]
    assert out["moves_gt_1_5x_vs_floor"] == {"slow_query": 1.65}
    assert out["moves_gt_1_8x_vs_floor"] == {"mid_query": 2.1}
    assert out["self_seeded"] == []


def test_vs_floor_self_seeds_only_new_queries(bench):
    mod, fpath = bench
    out = mod._drift_vs_floor(
        {"slow_query": 9.99, "brand_new": 1.23}, update=True
    )
    assert out["self_seeded"] == ["brand_new"]
    floors = json.loads(fpath.read_text())["floors"]
    # new query appended at its first value; existing floor NEVER moves
    assert floors["brand_new"]["sec"] == 1.23
    assert floors["slow_query"]["sec"] == 2.00


def test_vs_floor_no_update_leaves_file_untouched(bench):
    mod, fpath = bench
    before = fpath.read_text()
    mod._drift_vs_floor({"brand_new": 1.23}, update=False)
    assert fpath.read_text() == before


def test_host_gate_threshold_is_one_tenth_of_cpus():
    """The r12 gate: loadavg above 0.1x cpus at start must warn-tag —
    the 0.25x gate demonstrably passed the contended r11 driver run.
    Pinned textually (the threshold lives in a script body)."""
    src = open(os.path.join(_HERE, "bench.py")).read()
    assert "load1 > 0.1 * cpus" in src
    assert "0.25 * cpus" not in src


def test_retime_targets_bands(bench):
    """r13 (r12 VERDICT item 2): alarm entries always retime; warn-band
    entries retime only when the host gate tripped at suite start."""
    mod, _ = bench
    vf = {
        "moves_gt_1_8x_vs_floor": {"alarm_q": 2.1},
        "moves_gt_1_5x_vs_floor": {"warn_q": 1.6},
    }
    assert mod._retime_targets(vf, host_loaded=False) == {"alarm_q": "alarm"}
    assert mod._retime_targets(vf, host_loaded=True) == {
        "alarm_q": "alarm",
        "warn_q": "warn",
    }
    # a query can't land in both dicts upstream, but if it did, alarm wins
    both = {
        "moves_gt_1_8x_vs_floor": {"q": 2.0},
        "moves_gt_1_5x_vs_floor": {"q": 1.7},
    }
    assert mod._retime_targets(both, host_loaded=True) == {"q": "alarm"}
    assert mod._retime_targets({}, host_loaded=True) == {}


def test_retime_entries_carry_load_evidence():
    """r12 ADVICE: every retimed reading must ship its own loadavg
    snapshot so a 'still high' retime is attributable. Pinned textually
    (the loop lives in the script body) + on the committed artifact."""
    src = open(os.path.join(_HERE, "bench.py")).read()
    assert "loadavg_at_retime" in src
    art = json.load(open(os.path.join(_HERE, "bench_full.json")))
    if (art.get("gate_rev") or 0) < 13:
        return  # pre-r13 artifact (e.g. the driver's r12 run) — field absent
    vf = art.get("vs_floor") or {}
    for key in ("retimed_gt_1_8x", "retimed_warn_band_1_5x"):
        for name, entry in (vf.get(key) or {}).items():
            if "err" in entry:
                continue
            assert "loadavg_at_retime" in entry, (key, name)


def test_floor_repin_policy_documented_and_consistent():
    """r12 ADVICE: the manual re-pin policy must live next to the
    never-rewrite docstring, and every manually re-pinned floor entry
    must carry shape provenance in its src field."""
    src = open(os.path.join(_HERE, "bench.py")).read()
    assert "Manual re-pin policy" in src
    floors = json.load(open(os.path.join(_HERE, "bench_floor.json")))["floors"]
    for name, entry in floors.items():
        if "re-pin" in (entry.get("src") or ""):
            # provenance = mentions the superseded value and an arm/shape count
            assert any(ch.isdigit() for ch in entry["src"]), name


def test_retime_block_present_in_artifact_schema():
    """The committed round-close artifact must carry the in-artifact
    forensics the r12 gate promises: every >1.8x flag has a retimed
    reading (or the alarm dict is empty)."""
    art = json.load(open(os.path.join(_HERE, "bench_full.json")))
    vf = art.get("vs_floor") or {}
    alarms = vf.get("moves_gt_1_8x_vs_floor") or {}
    retimed = vf.get("retimed_gt_1_8x") or {}
    for name in alarms:
        assert name in retimed, f"{name} flagged >1.8x without a retime"
        assert "retimed_sec" in retimed[name] or "err" in retimed[name]


# First-run sequences recorded on idle hosts (seconds, in run order): the
# suite's warm-up pathologies the stopping rule has to see through.
RECORDED_SEQUENCES = {
    "ewma_hourly": [1.21, 0.63, 0.60, 0.52, 0.50, 0.51],
    "decoded_image_stats": [9.10, 1.87, 1.70, 1.57, 1.54, 1.45],
    "minhash_lsh_pairs": [6.46, 2.71, 2.01, 2.04],
    "decoded_jpeg_prog_stats": [12.47, 5.03, 4.73, 4.74, 4.52],
    "duplicate_spans": [9.26, 2.19, 1.59, 1.46, 1.53, 1.57],
    "incremental_image_crop_probe": [9.22, 2.52, 2.27, 2.25, 2.22],
    "ivf_cosine_topk": [16.75, 2.88, 1.94, 2.05, 1.76, 1.89],
    "ivf_centroid_join_topk": [4.91, 1.92, 1.68, 1.61, 1.49, 1.65],
    "ab_test_conversion": [8.21, 1.40, 1.01, 0.85, 0.83, 0.79],
}
# Recorded sequences that end while the warm-up is still visible: the
# rule must ask for another run rather than stop at their min.
UNSETTLED_SEQUENCES = {
    "video_frame_shifted_pairs_after_predecessor": [7.52, 2.40, 2.25, 2.73],
    "video_frame_shifted_pairs_after_census": [8.65, 2.54],
    "ann_cosine_topk": [4.95, 1.60, 1.98],
}


@pytest.mark.parametrize("name", sorted(RECORDED_SEQUENCES))
def test_stopping_rule_settles_near_the_recorded_min(bench, name):
    """Replay a recorded sequence through ``_settled``: the rule stops
    within the sequence, by MAX_RUNS, at a min within 1.10x of the
    sequence's min above the noise floor and within 1.25x below it."""
    mod, _ = bench
    seq = RECORDED_SEQUENCES[name]
    taken: list[float] = []
    for reading in seq:
        taken.append(reading)
        if mod._settled(taken):
            break
    assert mod._settled(taken), "the rule never stopped on this sequence"
    assert len(taken) <= mod.MAX_RUNS
    bound = 1.10 if min(seq) >= mod.NOISE_FLOOR_SEC else 1.25
    assert min(taken) <= bound * min(seq)


@pytest.mark.parametrize("name", sorted(UNSETTLED_SEQUENCES))
def test_stopping_rule_runs_on_through_an_unsettled_warm_up(bench, name):
    mod, _ = bench
    seq = UNSETTLED_SEQUENCES[name]
    assert not any(mod._settled(seq[:k]) for k in range(1, len(seq) + 1))


def test_stopping_rule_bounds(bench):
    mod, _ = bench
    assert not mod._settled([])
    assert not mod._settled([1.0] * (mod.MIN_RUNS - 1))
    assert mod._settled([1.0] * mod.MIN_RUNS)
    # readings that agree within WARMUP stop at MIN_RUNS, a warm-up or a
    # query under the noise floor does not
    floor = mod.NOISE_FLOOR_SEC
    assert mod._settled([floor, floor * mod.WARMUP])
    assert not mod._settled([floor, 2 * floor * mod.WARMUP])
    assert not mod._settled([floor / 2, floor / 2 * mod.WARMUP])
    assert mod._settled([9.0, 1.0, 9.0, 1.0, 9.0, 1.0][: mod.MAX_RUNS])


def test_names_or_non_canonical_runs_select_no_artifact(bench):
    mod, _ = bench
    assert mod._artifact_path("0.1", names_run=False).endswith("bench_full.json")
    assert mod._artifact_path("0.1", names_run=True) is None
    assert mod._artifact_path("0.001", names_run=False) is None
    assert mod._artifact_path("0.01", names_run=True) is None


def test_time_query_releases_the_storage_it_persisted(bench, spark, sf_dir):
    """ann_pq_adc_topk localCheckpoints its codebook, so a plain run
    leaves persisted RDDs behind; ``_time_query`` must leave none. RDDs
    that other tests of this session persisted are left alone."""
    from network_iq_spark.registry import QUERIES

    mod, _ = bench
    jsc = spark.sparkContext._jsc
    query = QUERIES["ann_pq_adc_topk"]
    before = set(jsc.getPersistentRDDs().keys())
    query(spark, sf_dir).write.format("noop").mode("overwrite").save()
    left = [r for i, r in jsc.getPersistentRDDs().items() if i not in before]
    assert left, "the query no longer persists anything to release"
    for rdd in left:
        rdd.unpersist(True)
    readings = mod._time_query(spark, query, sf_dir)
    assert mod.MIN_RUNS <= len(readings) <= mod.MAX_RUNS
    assert set(jsc.getPersistentRDDs().keys()) <= before
