"""The three workloads: their inputs, their ops, and their output checks.

An op is one call into a public engine function plus its sink. ``build``
makes the op's DataFrames and ``execute`` sinks them: the noop write, or
for ``ingest`` the parquet write. The runner times the two separately. In the
untimed warm-up pass the runner collects each query op's rows in place of
the noop write, and ``check`` compares them after the timed passes.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import checks, datagen

CATALOG_SF = 0.01
TELEMETRY_CELLS = 8
TELEMETRY_DAYS = 7

# 26 of the 39 oracle-paired queries in queries/telemetry.py, star.py,
# relational.py and sessions.py. The 13 left out repeat a shape that stays
# (rolling, hourly, JSON props, data-contract and session-window variants)
# or are the two heaviest (contract_quarantine_summary, nation_trade_volume);
# all 39 would push the runs of a two-commit comparison past one hour.
PANELS = (
    # queries/telemetry.py
    "kpi_cards", "hourly_profile", "zscore_top_anomalies", "rolling_features",
    "dedup_keep_last", "minmax_norm", "event_type_domains", "latest_snapshot",
    "risky_hours", "hourly_compare_unpivot", "json_props_stats",
    # queries/star.py (without the graph-shaped parts_bought_together and
    # copurchase_triangles) and queries/relational.py
    "top_revenue_customers", "regional_revenue", "order_priority_stats",
    "segment_acctbal_stats", "brand_top_parts", "nation_supplier_balance",
    "customers_without_orders", "shipping_priority", "pricing_summary",
    "grouping_sets_revenue",
    # queries/sessions.py
    "sessionize", "funnel_steps", "cohort_retention", "event_type_transitions",
    "scd2_user_type_history",
)

# One op per engine mechanism the dedup work targets: CC fixpoint rounds and
# media plan builds (transform_dedup_census), the landmark vote join
# (audio_landmark_pairs), PQ/IVF checkpoint debt (the ann pair), Arrow
# decoders in Python workers (decoded_jpeg_stats) and shuffle-heavy LSH
# (minhash_lsh_pairs). README.md lists the heavier queries left out.
DEDUP = (
    "minhash_lsh_pairs", "transform_dedup_census", "audio_landmark_pairs",
    "ann_ivfpq_topk", "ann_pq_adc_topk", "decoded_jpeg_stats",
)
# ann_pq_adc_topk always runs right after ann_ivfpq_topk, so the checkpoint
# debt the index build leaves lands on a timed successor
DEDUP_UNITS = tuple(
    ("ann_ivfpq_topk", "ann_pq_adc_topk") if n == "ann_ivfpq_topk" else (n,)
    for n in DEDUP
    if n != "ann_pq_adc_topk"
)

INGEST_PANELS = (
    "read_curated", "kpi_panel", "hourly_panel", "hotspot_panels",
    "anomaly_panel", "incident_panel", "build_latest_features",
    "score_with_model", "map_panel", "briefing_context",
)

# ops whose output has no DuckDB oracle; their row count and hash are
# checked against expected.json, which records them for catalog seeds
# 0 .. CATALOG_SEEDS - 1. A run's catalog seed is its seed modulo that.
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
CATALOG_SEEDS = 150


def catalog_seed(seed: int) -> int:
    return seed % CATALOG_SEEDS


@dataclass
class Op:
    name: str
    build: Callable[[], list]          # DataFrames whose sink is the noop write
    execute: Callable[[list], None] | None = None  # default: noop write each


@dataclass
class Context:
    spark: object
    data_dir: str
    seed: int
    state: dict = field(default_factory=dict)


def noop_sink(frames: list) -> None:
    for df in frames:
        df.write.format("noop").mode("overwrite").save()


def pass_order(units: tuple[tuple[str, ...], ...], seed: int, pass_no: int) -> list[str]:
    """The op order of one pass: ``units`` shuffled by (seed, pass), each
    unit's ops kept adjacent and in order."""
    shuffled = list(units)
    random.Random(f"{seed}/{pass_no}").shuffle(shuffled)
    return [name for unit in shuffled for name in unit]


class Workload:
    name: str
    units: tuple[tuple[str, ...], ...]
    lead: tuple[str, ...] = ()  # ops that start every pass, in this order

    def order(self, seed: int, pass_no: int) -> list[str]:
        return list(self.lead) + pass_order(self.units, seed, pass_no)

    def prepare(self, ctx: Context) -> None:
        """Write the seeded inputs (before the session starts)."""

    def setup(self, ctx: Context) -> None:
        """Session-side set-up that precedes the warm-up pass."""

    def start_pass(self, ctx: Context, pass_no: int) -> None:
        """Untimed bookkeeping before each pass."""

    def finish_pass(self, ctx: Context, pass_no: int) -> None:
        """Untimed bookkeeping after each pass."""

    def report(self, ctx: Context, passes: list[dict]) -> dict[str, float]:
        """Workload-specific end-to-end figures from the timed passes."""
        return {}

    def op(self, ctx: Context, name: str) -> Op:
        raise NotImplementedError

    def check(self, ctx: Context, outputs: dict[str, list]) -> dict[str, str]:
        """Mismatches by op name; ``outputs`` maps each op to the
        canonical (columns, rows) pairs of its DataFrames."""
        raise NotImplementedError


class QueryWorkload(Workload):
    """Registered queries over the seeded catalog, checked against their
    DuckDB oracles (or expected.json for the few without one)."""

    def __init__(self, name: str, units: tuple[tuple[str, ...], ...]):
        self.name = name
        self.units = units

    def prepare(self, ctx: Context) -> None:
        datagen.write_catalog(ctx.data_dir, catalog_seed(ctx.seed), CATALOG_SF)

    def op(self, ctx: Context, name: str) -> Op:
        from network_iq_spark.registry import QUERIES

        fn = QUERIES[name]
        return Op(name, lambda: [fn(ctx.spark, ctx.data_dir)])

    def check(self, ctx: Context, outputs: dict[str, list]) -> dict[str, str]:
        import json

        from network_iq_spark.registry import ORACLES
        from network_iq_spark.sources.tables import TABLES

        with open(EXPECTED_PATH, encoding="utf-8") as f:
            expected = json.load(f)
        con = checks.duckdb_catalog(ctx.data_dir, TABLES)
        bad: dict[str, str] = {}
        try:
            for name, [(cols, rows)] in outputs.items():
                if name in ORACLES:
                    why = checks.oracle_mismatch(con, ORACLES[name], cols, rows)
                else:
                    why = _expected_mismatch(expected, name, catalog_seed(ctx.seed), rows)
                if why:
                    bad[name] = why
        finally:
            con.close()
        return bad


def _expected_mismatch(expected: dict, name: str, seed: int, rows) -> str | None:
    """Row count and hash against the values recorded for this catalog seed."""
    want = expected.get(name, {}).get(str(seed))
    if want is None:
        return f"no expected result for catalog seed {seed}"
    got = {"rows": len(rows), "sha256": checks.rows_hash(rows)}
    return None if got == want else f"expected {want}, got {got}"


class IngestRefresh(Workload):
    """The reference's product loop: ingest a raw CSV batch into a fresh
    hive-partitioned directory, then re-run the dashboard panels and the
    scoring path on it."""

    name = "ingest_refresh"
    lead = ("ingest",)
    units = tuple((n,) for n in INGEST_PANELS)

    def prepare(self, ctx: Context) -> None:
        text = datagen.telemetry_csv_text(ctx.seed, TELEMETRY_CELLS, TELEMETRY_DAYS)
        path = os.path.join(ctx.data_dir, "raw.csv")
        os.makedirs(ctx.data_dir, exist_ok=True)
        with open(path, "w", encoding="ascii", newline="") as f:
            f.write(text)
        ctx.state.update(csv=path, csv_bytes=len(text), expect=checks.telemetry_expectations(text))

    def setup(self, ctx: Context) -> None:
        """Train the next-hour model once, on a set-up ingest of the batch."""
        from network_iq_spark.ingest import ingest, read_csv, read_curated, telemetry_schema
        from network_iq_spark.ml import derive_labels, train_next_hour
        from network_iq_spark.plans import build_history_features

        train_dir = os.path.join(ctx.data_dir, "train")
        ingest(read_csv(ctx.spark, ctx.state["csv"], telemetry_schema()), train_dir)
        labeled = derive_labels(
            build_history_features(read_curated(ctx.spark, train_dir)), "latency_ms", q=0.8
        )
        ctx.state["model"], ctx.state["meta"] = train_next_hour(labeled)

    def start_pass(self, ctx: Context, pass_no: int) -> None:
        ctx.state["curated"] = os.path.join(ctx.data_dir, f"curated_{pass_no}")

    def finish_pass(self, ctx: Context, pass_no: int) -> None:
        """Record what the pass's ingest stored, then drop it."""
        out = ctx.state["curated"]
        sizes = [
            os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(out) for f in files
        ]
        ctx.state.setdefault("stored", []).append((sum(sizes), len(sizes)))
        shutil.rmtree(out, ignore_errors=True)

    def report(self, ctx: Context, passes: list[dict]) -> dict[str, float]:
        import statistics

        ingest_s = statistics.median(p["latency_s"]["ingest"] for p in passes)
        stored = statistics.median(b for b, _n in ctx.state["stored"])
        return {
            "ingest_rows_per_s": ctx.state["expect"]["raw_rows"] / ingest_s,
            "stored_bytes_per_input_byte": stored / ctx.state["csv_bytes"],
            "stored_files": statistics.median(n for _b, n in ctx.state["stored"]),
        }

    def op(self, ctx: Context, name: str) -> Op:
        from network_iq_spark import plans
        from network_iq_spark.ingest import ingest, read_csv, read_curated, telemetry_schema
        from network_iq_spark.ml import score_with_model

        spark, out = ctx.spark, ctx.state["curated"]
        if name == "ingest":
            return Op(
                name,
                lambda: [read_csv(spark, ctx.state["csv"], telemetry_schema())],
                lambda frames: ingest(frames[0], out),
            )

        def cur():
            return read_curated(spark, out)

        def scored(df):
            return score_with_model(ctx.state["model"], plans.build_latest_features(df))

        builders = {
            "read_curated": lambda: [cur()],
            "kpi_panel": lambda: [plans.kpi_panel(cur())],
            "hourly_panel": lambda: [plans.hourly_panel(cur(), "latency_ms")],
            "hotspot_panels": lambda: list(plans.hotspot_panels(cur()).values()),
            "anomaly_panel": lambda: [plans.anomaly_panel(cur())],
            "incident_panel": lambda: [plans.incident_panel(cur())],
            "build_latest_features": lambda: [plans.build_latest_features(cur())],
            "score_with_model": lambda: [scored(cur())],
            "map_panel": lambda: [plans.map_panel(scored(c := cur()), c)],
            "briefing_context": lambda: [plans.briefing_context(
                c := cur(), predictions=scored(c), model_meta=ctx.state["meta"]["label_rule"]
            )],
        }
        return Op(name, builders[name])

    def check(self, ctx: Context, outputs: dict[str, list]) -> dict[str, str]:
        """Cleansed row count, partition count and KPI means against numpy
        on the generated batch."""
        want = ctx.state["expect"]
        bad: dict[str, str] = {}
        if "read_curated" not in outputs or "kpi_panel" not in outputs:
            return bad  # the failed op is already counted
        [(cols, rows)] = outputs["read_curated"]
        got_parts = len({(r[cols.index("date")], r[cols.index("cell_id")]) for r in rows})
        if len(rows) != want["rows"] or got_parts != want["partitions"]:
            bad["ingest"] = (
                f"rows {len(rows)} vs {want['rows']}, partitions {got_parts} vs {want['partitions']}"
            )
        [(cols, [kpi])] = outputs["kpi_panel"]
        k = dict(zip(cols, kpi))
        diffs = [
            f"{m} {k[m]} vs {want[m]}"
            for m in ("avg_throughput_mbps", "avg_drop_rate", "p95_latency_ms")
            if not checks.close(k[m], want[m])
        ]
        if k["n_rows"] != want["rows"]:
            diffs.append(f"n_rows {k['n_rows']} vs {want['rows']}")
        if diffs:
            bad["kpi_panel"] = "; ".join(diffs)
        return bad


WORKLOADS: dict[str, Workload] = {
    "panels": QueryWorkload("panels", tuple((n,) for n in PANELS)),
    "dedup": QueryWorkload("dedup", DEDUP_UNITS),
    "ingest_refresh": IngestRefresh(),
}
