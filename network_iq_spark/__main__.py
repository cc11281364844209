"""CLI: demo pipeline + query catalog.

- ``python -m network_iq_spark``            — end-to-end demo (below)
- ``python -m network_iq_spark --list``     — print the query catalog
- ``python -m network_iq_spark --run NAME [--sf DIR] [--n N]`` — run one
  registered query against a testdata dir and show the first N rows.
- ``python -m network_iq_spark --explain NAME [--sf DIR]`` — print the
  formatted physical plan (pushdown / broadcast / shuffle inspection).

Runs the full reference capability surface on a synthetic telemetry batch:
ingest (CSV → cleansed hive parquet) → dashboard panels (KPIs, hourly,
hotspots, anomalies, incidents) → ML (features → labels → train → score) →
risk map → AI briefing (stub provider) — everything a user of the reference
dashboard computes, as lazy Spark plans with small collected summaries.
"""

from __future__ import annotations

import os
import sys
import tempfile


def _catalog_main(argv: list[str]) -> None:
    from network_iq_spark.registry import ORACLES, QUERIES

    if argv[0] == "--list":
        for name in sorted(QUERIES):
            doc = (QUERIES[name].__doc__ or "").strip().splitlines()
            tag = "oracle" if name in ORACLES else "rows-only"
            print(f"{name:34s} [{tag}] {doc[0] if doc else ''}")
        print(f"-- {len(QUERIES)} queries, {len(ORACLES)} oracle-paired")
        return

    # --run/--explain NAME [--sf DIR] [--n N]
    mode = argv[0]
    if len(argv) < 2:
        raise SystemExit(
            f"usage: python -m network_iq_spark {mode} NAME [--sf DIR] [--n N]"
        )
    name = argv[1]
    sf = "/root/testdata/sf0.01"
    n = 20
    if "--sf" in argv:
        sf = argv[argv.index("--sf") + 1]
    if "--n" in argv:
        n = int(argv[argv.index("--n") + 1])
    if name not in QUERIES:
        import difflib

        close = difflib.get_close_matches(name, QUERIES, n=3)
        raise SystemExit(f"unknown query {name!r}; did you mean {close}?")
    from network_iq_spark.session import get_spark

    spark = get_spark(app_name=f"network-iq-spark-run-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[name](spark, sf)
    if mode == "--explain":
        df.explain("formatted")
    else:
        df.show(n, truncate=False)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] in ("--list", "--run", "--explain"):
        _catalog_main(sys.argv[1:])
        return
    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="niq_")
    os.makedirs(workdir, exist_ok=True)

    from network_iq_spark.session import get_spark

    spark = get_spark(app_name="network-iq-spark-demo")
    spark.sparkContext.setLogLevel("ERROR")

    # -- synthesize a raw CSV batch (stand-in for the operator's feed) ------
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    ts = pd.date_range("2025-07-01", periods=24 * 7, freq="h")
    cells = [f"CELL-{i:03d}" for i in range(1, 9)]
    raw = pd.DataFrame(
        [
            {
                "timestamp": t,
                "cell_id": c,
                "lat": 32.7 + rng.normal(0, 0.05),
                "lon": -97.0 + rng.normal(0, 0.05),
                "rsrp_dbm": rng.uniform(-113, -79),
                "rsrq_db": rng.uniform(-18.5, 1.8),
                "sinr_db": rng.uniform(-5.1, 23.1),
                "throughput_mbps": rng.uniform(2.4, 254.9),
                "latency_ms": rng.uniform(18, 76),
                "jitter_ms": rng.uniform(0, 20.5),
                "drop_rate": rng.uniform(0, 3.85),
                "tech": str(rng.choice(["4G", "5G"])),
                "band": str(rng.choice(["B2", "B66", "n41", "n77"])),
            }
            for t in ts
            for c in cells
        ]
    )
    csv_path = os.path.join(workdir, "raw.csv")
    raw.to_csv(csv_path, index=False)

    # -- ingest -------------------------------------------------------------
    from network_iq_spark.ingest import ingest, read_csv, read_curated, telemetry_schema

    curated_path = os.path.join(workdir, "curated")
    ingest(read_csv(spark, csv_path, telemetry_schema()), curated_path)
    cur = read_curated(spark, curated_path)
    print(f"[ingest] {cur.count()} rows → {curated_path} (hive date=/cell_id=)")

    # -- panels -------------------------------------------------------------
    from network_iq_spark.plans import (
        anomaly_panel,
        briefing_context,
        build_history_features,
        build_latest_features,
        hotspot_panels,
        hourly_panel,
        incident_panel,
        kpi_panel,
        map_panel,
    )

    k = kpi_panel(cur).collect()[0]
    print(
        f"[kpis] thr {k.avg_throughput_mbps:.1f} Mbps | p95 lat "
        f"{k.p95_latency_ms:.1f} ms | NPS proxy {k.nps_proxy:+.0f}"
    )
    risky = [r.hour for r in hourly_panel(cur, "latency_ms", 3).collect() if r.risky]
    print(f"[hourly] risky hours (≥P90 scope latency): {risky}")
    hot = hotspot_panels(cur, k=3)["worst_latency"].collect()
    print("[hotspots] worst p95 latency:", [(r.cell_id, round(r.p95_latency_ms, 1)) for r in hot])
    anom = anomaly_panel(cur).collect()[:3]
    print("[anomalies] top z:", [(r.cell_id, round(r.max_anom_z, 2)) for r in anom])
    inc = incident_panel(cur, q=0.9)
    print(f"[incidents] {inc.count()} cell-hours above P90")

    # -- ML: features → labels → train → score -----------------------------
    from pyspark.sql import functions as F

    from network_iq_spark.ml import derive_labels, score_with_model, train_next_hour

    feats = build_latest_features(cur)
    print(f"[features] latest-hour frame: {feats.count()} cells × {len(feats.columns)} cols")
    labeled = derive_labels(build_history_features(cur), "latency_ms", q=0.8)
    model, meta = train_next_hour(labeled)
    print(
        f"[train] AUC {meta['metrics']['auc']:.3f} AP {meta['metrics']['ap']:.3f} "
        f"on n={meta['metrics']['n']} (pos={meta['metrics']['positives']})"
    )
    scored = score_with_model(model, feats).select("cell_id", "ts", "pred_prob")
    top = scored.orderBy(F.col("pred_prob").desc()).collect()[:3]
    print("[score] next-hour risk:", [(r.cell_id, round(r.pred_prob, 3)) for r in top])

    # -- map + briefing ------------------------------------------------------
    mp = map_panel(scored, cur).collect()
    print(f"[map] {len(mp)} cells plotted; sample fill={list(mp[0].fill)}")
    from network_iq_spark.ml.enrichment import Enricher

    ctx = briefing_context(cur, predictions=scored, model_meta=meta["label_rule"])
    enr = Enricher(spark, os.path.join(workdir, "ai_cache"))
    print("[briefing]", enr.briefing(ctx))
    print(f"[done] artifacts in {workdir}")


if __name__ == "__main__":
    main()
