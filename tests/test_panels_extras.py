"""Map panel, briefing context + enrichment cache, and export sinks."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.telemetry_fixture import telemetry_pdf


@pytest.fixture(scope="module")
def tdf(spark):
    df = spark.createDataFrame(telemetry_pdf())
    df.persist().count()
    yield df
    df.unpersist()


def test_map_panel(spark, tdf):
    from network_iq_spark.plans.telemetry import map_panel

    preds = spark.createDataFrame(
        pd.DataFrame(
            {
                "cell_id": [f"CELL-{i:03d}" for i in range(1, 6)] + ["CELL-999"],
                "pred_prob": [0.1, 0.9, 0.5, 0.3, 0.7, 0.8],
            }
        )
    )
    got = map_panel(preds, tdf).toPandas().sort_values("cell_id")
    # CELL-999 has no coords -> dropped
    assert got.cell_id.tolist() == [f"CELL-{i:03d}" for i in range(1, 6)]
    # size scales 3..10 with min/max prob
    assert got.loc[got.pred_prob == 0.1, "size"].iloc[0] == pytest.approx(3.0)
    assert got.loc[got.pred_prob == 0.9, "size"].iloc[0] == pytest.approx(10.0)
    # amber->red ramp: fill = [255, 170*(1-p), 0, 185]
    fill = got.loc[got.pred_prob == 0.5, "fill"].iloc[0]
    assert list(fill) == [255, 85, 0, 185]
    assert got.loc[got.pred_prob == 0.5, "pred_prob_s"].iloc[0] == "0.50"
    # coords must be the most-recent row per cell (dedup keep-last)
    from network_iq_spark.operators.windows import dedup_keep_last

    last = {
        r.cell_id: (r.lat, r.lon)
        for r in dedup_keep_last(tdf, ["cell_id"], ["timestamp"]).collect()
    }
    for r in got.itertuples():
        assert (r.lat, r.lon) == last[r.cell_id]


def test_briefing_context_and_enricher(spark, tdf, tmp_path):
    from network_iq_spark.ml.enrichment import Enricher
    from network_iq_spark.plans.telemetry import briefing_context

    ctx = briefing_context(tdf, model_meta={"trained_at": "2025-08-20"})
    row = ctx.collect()[0]
    assert len(row.context_hash) == 64
    import json

    payload = json.loads(row.context_json)
    assert set(payload) == {"kpis", "hotspots", "anomalies", "predictions", "model_meta"}
    assert len(payload["hotspots"]) == 5  # 5 cells
    # identical input -> identical hash (content-keyed caching works)
    assert briefing_context(tdf, model_meta={"trained_at": "2025-08-20"}).collect()[
        0
    ].context_hash == row.context_hash

    calls = []

    def fake_llm(system_msg: str, user_json: str) -> str:
        calls.append(1)
        return "## Briefing\n- ok"

    enr = Enricher(spark, str(tmp_path / "cache"), llm=fake_llm, max_runs=2)
    out1 = enr.briefing(ctx)
    out2 = enr.briefing(ctx)  # cache hit — no second call
    assert out1 == out2 == "## Briefing\n- ok"
    assert len(calls) == 1
    # run guard
    enr2 = Enricher(spark, str(tmp_path / "cache2"), llm=fake_llm, max_runs=0)
    assert "run limit" in enr2.briefing(ctx)


def test_http_provider_roundtrip_retry_and_cache(spark, tdf, tmp_path, monkeypatch):
    """M7 transport: the stdlib HTTP provider round-trips against a real
    local server speaking the chat-completions wire format, retries a 429,
    and composes with the Enricher cache (second briefing = no request)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from network_iq_spark.ml.enrichment import Enricher, http_chat_provider
    from network_iq_spark.plans.telemetry import briefing_context

    seen = {"n": 0, "auth": None, "bodies": []}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            seen["n"] += 1
            seen["auth"] = self.headers.get("Authorization")
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            seen["bodies"].append(body)
            if seen["n"] == 1:  # first attempt throttled — provider must retry
                self.send_response(429)
                self.end_headers()
                return
            out = json.dumps(
                {"choices": [{"message": {"content": "## Briefing\n- from http"}}]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        monkeypatch.setenv("LLM_API_KEY", "test-key")
        llm = http_chat_provider(
            url=f"http://127.0.0.1:{srv.server_address[1]}/v1/chat/completions",
            model="test-model",
            backoff_s=0.01,
        )
        ctx = briefing_context(tdf, model_meta={"trained_at": "2025-08-20"})
        enr = Enricher(spark, str(tmp_path / "cache"), llm=llm, max_runs=2)
        assert enr.briefing(ctx) == "## Briefing\n- from http"
        assert seen["n"] == 2  # 429 then success
        assert seen["auth"] == "Bearer test-key"
        body = seen["bodies"][-1]
        assert body["model"] == "test-model"
        assert body["messages"][0]["role"] == "system"
        assert "```json" in body["messages"][1]["content"]
        # cache hit: no third request
        assert enr.briefing(ctx) == "## Briefing\n- from http"
        assert seen["n"] == 2
    finally:
        srv.shutdown()


def test_http_provider_degrades_without_config(monkeypatch):
    """No endpoint / no key → the reference's `_AI disabled_` contract, and
    provider_from_env resolves to the disabled provider."""
    from network_iq_spark.ml import enrichment as E

    monkeypatch.delenv("LLM_API_URL", raising=False)
    monkeypatch.delenv("LLM_API_KEY", raising=False)
    assert E.provider_from_env() is E.disabled_llm
    assert "_AI disabled" in E.http_chat_provider()( "sys", "{}")
    monkeypatch.setenv("LLM_API_URL", "http://127.0.0.1:9/unreachable")
    assert E.provider_from_env() is not E.disabled_llm
    out = E.http_chat_provider(backoff_s=0.01, max_retries=1)("sys", "{}")
    assert out.startswith("_AI disabled: LLM_API_KEY")
    monkeypatch.setenv("LLM_API_KEY", "k")
    out = E.http_chat_provider(backoff_s=0.01, max_retries=1, timeout=2)("sys", "{}")
    assert out.startswith("_LLM error:")  # terminal transport error, no raise


def test_enrich_batch(spark):
    from network_iq_spark.ml.enrichment import enrich_batch

    df = spark.createDataFrame(
        [(i, '{"cell": %d}' % i) for i in range(8)], "id long, context_json string"
    )
    out = enrich_batch(
        df, lambda s, j: f"briefing:{j}", "sys", calls_per_second=0
    ).collect()
    assert sorted(r.briefing for r in out) == sorted(
        f'briefing:{{"cell": {i}}}' for i in range(8)
    )


def test_sinks(spark, tdf, tmp_path):
    from network_iq_spark.sources.sinks import (
        parse_partition_path,
        partition_value_from_path,
        to_csv_bytes,
        write_csv,
    )

    blob = to_csv_bytes(tdf.select("cell_id", "latency_ms"), limit=10)
    lines = blob.decode().strip().splitlines()
    assert lines[0] == "cell_id,latency_ms" and len(lines) == 11

    out = str(tmp_path / "csv_out")
    write_csv(tdf.select("cell_id", "latency_ms"), out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == tdf.count()

    assert parse_partition_path("s3://b/t/date=2025-07-01/cell_id=C1/f.parquet") == {
        "date": "2025-07-01",
        "cell_id": "C1",
    }
    # column variant parses the reading file's path
    p = str(tmp_path / "part/date=2025-07-02")
    tdf.limit(5).write.parquet(p)
    got = (
        spark.read.parquet(p)
        .select(partition_value_from_path().alias("d"))
        .distinct()
        .collect()
    )
    assert [r.d for r in got] == ["2025-07-02"]


def test_resize_media_target_dims_exact_integer_math(spark):
    from network_iq_spark.operators.multimodal import resize_media

    rows = [
        (1, b"x", "image", 1000, 500, None),   # wide: w binds -> 336x168
        (2, b"x", "image", 500, 1000, None),   # tall: h binds -> 168x336
        (3, b"x", "image", 100, 100, None),    # fits: untouched
        (4, b"x", "audio", None, None, 9000),  # no dims: pass-through
    ]
    df = spark.createDataFrame(
        rows,
        "media_id bigint, payload binary, media_type string, "
        "width int, height int, duration_ms int",
    )
    got = {r["media_id"]: (r["target_w"], r["target_h"], r["decode_status"])
           for r in resize_media(df, 336, 336).collect()}
    assert got[1] == (336, 168, "ok")
    assert got[2] == (168, 336, "ok")
    assert got[3] == (100, 100, "ok")
    assert got[4][:2] == (None, None)


def test_sample_frames_bounded_fanout_and_deterministic(spark):
    from network_iq_spark.operators.multimodal import sample_frames

    rows = [
        (1, b"vid-a", "video", None, None, 3500),   # 3 frames at 1000ms
        (2, b"vid-b", "video", None, None, 500),    # short: 1 frame minimum
        (3, b"img", "image", 10, 10, None),         # not video: excluded
        (4, b"vid-c", "video", None, None, 120000), # capped at max_frames
    ]
    df = spark.createDataFrame(
        rows,
        "media_id bigint, payload binary, media_type string, "
        "width int, height int, duration_ms int",
    )
    out = sample_frames(df, max_frames=8).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[1]) == 3 and [r["ts_ms"] for r in sorted(
        by_id[1], key=lambda r: r["frame_idx"])] == [0, 1000, 2000]
    assert len(by_id[2]) == 1
    assert 3 not in by_id
    assert len(by_id[4]) == 8  # metadata-computed cap, not worker-discovered
    # deterministic stub frames: same (payload, ts) -> same bytes
    out2 = sample_frames(df, max_frames=8).collect()
    assert sorted((r["media_id"], r["frame_idx"], bytes(r["frame"])) for r in out) == \
           sorted((r["media_id"], r["frame_idx"], bytes(r["frame"])) for r in out2)


def test_enricher_legacy_flat_cache_compat(spark, tmp_path):
    """A cache directory written by the pre-h2 FLAT layout must still be
    usable: lookups hit through the unpartitioned filter instead of
    crashing on the missing partition column, and an unreadable cache
    degrades to a miss, never an error (ADVICE r6)."""
    import time as _time

    from network_iq_spark.ml.enrichment import Enricher

    key = "a" * 64
    cache = str(tmp_path / "legacy_cache")
    # old flat layout: no h2 column, no partitioning
    spark.createDataFrame(
        [(key, "cached briefing", _time.time(), "iso")],
        "context_hash string, briefing string, created_at double, created_iso string",
    ).write.parquet(cache)

    calls = []

    def fake_llm(system_msg: str, user_json: str) -> str:
        calls.append(1)
        return "fresh"

    ctx = spark.createDataFrame(
        [("{}", key)], "context_json string, context_hash string"
    )
    enr = Enricher(spark, cache, llm=fake_llm, max_runs=2)
    assert enr.briefing(ctx) == "cached briefing"  # legacy hit, no crash
    assert not calls

    # unreadable cache path (a file, not a parquet dir) -> miss, not error
    bad = tmp_path / "not_parquet"
    bad.write_text("junk")
    enr2 = Enricher(spark, str(bad), llm=fake_llm, max_runs=2)
    assert enr2.briefing(ctx) == "fresh"
    assert len(calls) == 1
