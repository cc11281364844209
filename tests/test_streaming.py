"""Streaming tier: the streaming plans must agree with their batch twins on
a replay of the same data (availableNow trigger → memory sink)."""

from __future__ import annotations

import pytest

from tests.telemetry_fixture import telemetry_pdf

SOURCE_FILES = 4


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory) -> str:
    """The telemetry fixture as SOURCE_FILES time-ordered parquet files:
    sorted by name, each file's rows are all later than the previous
    file's. The split is fixed, not one file per local core, so the
    event-time watermark after any prefix of the files does not depend on
    the host."""
    p = str(tmp_path_factory.mktemp("stream_src") / "telemetry")
    (
        spark.createDataFrame(telemetry_pdf())
        .repartitionByRange(SOURCE_FILES, "timestamp")
        .write.mode("overwrite")
        .parquet(p)
    )
    return p


def _run_to_memory(stream_df, name: str, mode: str) -> None:
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_tumbling_kpis_match_batch(spark, source_dir):
    from pyspark.sql import functions as F

    from network_iq_spark.ingest import telemetry_schema
    from network_iq_spark.streaming import read_telemetry_stream, tumbling_kpis

    stream = read_telemetry_stream(spark, source_dir, telemetry_schema())
    assert stream.isStreaming
    _run_to_memory(
        tumbling_kpis(stream, keys=["cell_id"]), "t_kpis", "append"
    )
    got = {
        (r.window_start, r.cell_id): (r.avg_value, r.std_value, r.n)
        for r in spark.table("t_kpis").collect()
    }

    batch = (
        spark.read.parquet(source_dir)
        .groupBy(F.window("timestamp", "1 hour"), "cell_id")
        .agg(
            F.avg("latency_ms").alias("avg_value"),
            F.stddev_samp("latency_ms").alias("std_value"),
            F.count("*").alias("n"),
        )
        .select(F.col("window.start").alias("ws"), "cell_id", "avg_value", "std_value", "n")
    )
    import datetime

    # append mode emits only CLOSED windows: window_end ≤ max_event_time −
    # watermark (2 h). Final event 2025-07-05 23:00 ⇒ hours 21-23 stay open.
    cutoff = datetime.datetime(2025, 7, 5, 21)
    want = {
        (r.ws, r.cell_id): (r.avg_value, r.std_value, r.n)
        for r in batch.collect()
        if r.ws < cutoff
    }
    assert got == want
    assert len(got) == 585  # (120 − 3 open) hourly windows × 5 cells


def test_checkpoint_incremental_processing(spark, source_dir, tmp_path):
    """Exactly-once file-source semantics: with a checkpoint, a restarted
    query processes ONLY files that arrived since the last run — the
    foundation of incremental ingest at 100 TB."""
    import shutil

    from pyspark.sql import functions as F

    from network_iq_spark.ingest import telemetry_schema
    from network_iq_spark.streaming import read_telemetry_stream, tumbling_kpis

    src = str(tmp_path / "incremental_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    import os

    os.makedirs(src)
    files = sorted(
        f for f in os.listdir(source_dir) if f.endswith(".parquet")
    )
    assert len(files) == SOURCE_FILES
    shutil.copy(os.path.join(source_dir, files[0]), src)

    def run_once() -> None:
        stream = read_telemetry_stream(spark, src, telemetry_schema())
        q = (
            tumbling_kpis(stream, keys=["cell_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    # restart with NO new files: nothing reprocessed, no duplicates
    run_once()
    assert spark.read.parquet(out).count() == n1
    # add the remaining files; restart processes only the delta
    for f in files[1:]:
        shutil.copy(os.path.join(source_dir, f), src)
    run_once()
    n3 = spark.read.parquet(out).count()
    assert n3 > n1
    # closed windows are emitted exactly once across all restarts
    dupes = (
        spark.read.parquet(out)
        .groupBy("window_start", "cell_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_latest_per_key_matches_dedup(spark, source_dir):
    from network_iq_spark.ingest import telemetry_schema
    from network_iq_spark.operators.windows import dedup_keep_last
    from network_iq_spark.streaming import latest_per_key, read_telemetry_stream

    ddl = "cell_id string, timestamp timestamp, latency_ms double, throughput_mbps double"
    stream = read_telemetry_stream(spark, source_dir, telemetry_schema())
    _run_to_memory(latest_per_key(stream, ddl), "t_latest", "update")
    # last update per key wins
    latest = {}
    for r in spark.table("t_latest").collect():
        cur = latest.get(r.cell_id)
        if cur is None or r.timestamp > cur[0]:
            latest[r.cell_id] = (r.timestamp, r.latency_ms)

    batch = dedup_keep_last(
        spark.read.parquet(source_dir), ["cell_id"], ["timestamp"]
    ).select("cell_id", "timestamp", "latency_ms")
    want = {r.cell_id: (r.timestamp, r.latency_ms) for r in batch.collect()}
    assert latest == want


def test_streaming_sessionize_out_of_order_across_batches(spark, tmp_path):
    """Late-but-within-watermark events arriving in a LATER micro-batch than
    their neighbors must still produce the batch gap-split (the 2 h
    watermark explicitly permits lateness ≫ the 30 min gap). Covers: merge
    extending the span backward (start=min), late event between two seen
    events NOT shrinking session_end (the r2 bug: last overwritten with an
    earlier ts falsely split the next on-time event), and the documented
    singleton carve-out for stragglers older than start − gap."""
    import datetime

    from pyspark.sql import functions as F

    from network_iq_spark.streaming.sessions import streaming_sessionize

    src = str(tmp_path / "ooo_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "ooo_out")

    t0 = datetime.datetime(2025, 7, 1, 12, 0, 0)
    m = lambda k: t0 + datetime.timedelta(minutes=k)
    ddl = "user_id bigint, ts timestamp, value double"
    # batch 1: in-order prefix per user
    batch1 = [
        (1, m(0), 1.0), (1, m(10), 1.0),          # open session [0, 10]
        (2, m(0), 1.0), (2, m(40), 1.0),          # gap-split: [0] closed, [40] open
        (3, m(10), 1.0),                          # open session [10, 10]
        (4, m(0), 1.0), (4, m(10), 1.0),          # open session [0, 10]
    ]
    # batch 2: late arrivals (within the 2 h watermark) + on-time successors
    batch2 = [
        (1, m(5), 1.0),                           # late, inside span → merge
        (1, m(20), 1.0),                          # on-time continuation
        (2, m(-40), 1.0),                         # straggler < start−gap → own session
        (3, m(0), 1.0),                           # late, extends start BACKWARD
        (3, m(35), 1.0),                          # 25 min after last(10) → merge
        (4, m(1), 1.0),                           # late; must NOT shrink last to 1
        (4, m(39), 1.0),                          # 29 min after last(10) → merge
    ]

    def run_once() -> None:
        stream = spark.readStream.schema(ddl).parquet(src)
        q = (
            streaming_sessionize(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(batch1, ddl).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame(batch2, ddl).write.mode("append").parquet(src)
    run_once()
    # sentinels push the watermark past every open session's timeout
    for i, hours in enumerate((10, 20)):
        spark.createDataFrame(
            [(-1 - i, m(60) + datetime.timedelta(hours=hours), 0.0)], ddl
        ).write.mode("append").parquet(src)
        run_once()

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in spark.read.parquet(out).filter(F.col("user_id") >= 0).collect()
    }
    # pure-Python batch gap-split over the union of both batches
    rows = sorted(batch1 + batch2)
    want, cur = set(), None
    gap = datetime.timedelta(minutes=30)
    for uid, ts, v in rows:
        if cur is None or uid != cur[0] or ts - cur[2] > gap:
            if cur is not None:
                want.add((cur[0], cur[1], cur[2], cur[3], cur[4]))
            cur = [uid, ts, ts, 1, v]
        else:
            cur[2], cur[3], cur[4] = ts, cur[3] + 1, cur[4] + v
    want.add((cur[0], cur[1], cur[2], cur[3], cur[4]))
    assert got == want
    # the r2 bug signature: user 4 must be ONE session spanning [0, 39]
    u4 = [g for g in got if g[0] == 4]
    assert u4 == [(4, m(0), m(39), 4, 4.0)]


def test_streaming_sessionize_matches_batch_gap_split(spark, tmp_path):
    """Stateful sessionization with EventTimeTimeout: gap-closures emit
    in-batch; open sessions emit when the watermark passes last_event+gap
    (forced here by sentinel events far in the future). The union must equal
    the batch gap-split exactly — sessions are closed once, exactly once."""
    import datetime

    from pyspark.sql import functions as F

    from network_iq_spark.sources import load_table
    from network_iq_spark.streaming.sessions import streaming_sessionize

    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sessions_out")

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "ts", "value")
    )
    ev.write.mode("overwrite").parquet(src)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    def run_once() -> None:
        stream = spark.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        ).parquet(src)
        q = (
            streaming_sessionize(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # gap-closures only; each user's final session still open

    # sentinel batches push the watermark past every open session's timeout
    for i, hours in enumerate((10, 20)):
        sentinel = spark.createDataFrame(
            [(-1 - i, max_ts + datetime.timedelta(hours=hours), 0.0)],
            "user_id bigint, ts timestamp, value double",
        )
        sentinel.write.mode("append").parquet(src)
        run_once()

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in spark.read.parquet(out).filter(F.col("user_id") >= 0).collect()
    }

    # pure-Python batch gap-split over the same rows
    rows = sorted(ev.collect(), key=lambda r: (r.user_id, r.ts))
    want, cur = set(), None  # cur = [user, start, last, n, vsum_e4]
    gap = datetime.timedelta(minutes=30)
    for r in rows:
        v = int(round(r.value * 10_000))
        if cur is None or r.user_id != cur[0] or r.ts - cur[2] > gap:
            if cur is not None:
                want.add((cur[0], cur[1], cur[2], cur[3], cur[4] / 10_000))
            cur = [r.user_id, r.ts, r.ts, 1, v]
        else:
            cur[2], cur[3], cur[4] = r.ts, cur[3] + 1, cur[4] + v
    want.add((cur[0], cur[1], cur[2], cur[3], cur[4] / 10_000))

    assert got == want
    assert len(got) > 100

    # and the registry's batch sessionize (the lag+running-sum plan) agrees
    # on the shared columns — streaming and batch are twins of ONE contract
    from network_iq_spark.registry import QUERIES

    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in QUERIES["sessionize"](spark, "/root/testdata/sf0.001").collect()
    }
    assert {(u, s, e, n) for u, s, e, n, _ in got} == batch


def test_streaming_exact_dedup_first_arrival_wins(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one arrival per content
    fingerprint; the surviving CONTENT set equals the batch exact_dedup's
    on the same data (stream/batch agreement on what a duplicate is)."""
    import pyspark.sql.functions as F

    from network_iq_spark.operators.dedup import exact_dedup
    from network_iq_spark.operators.text import fingerprint
    from network_iq_spark.streaming import (
        streaming_exact_dedup,
        with_content_fingerprint,
    )

    src = tmp_path / "docs_stream"
    src.mkdir()
    rows = [
        (1, "alpha beta gamma", "2024-01-01 00:00:00"),
        (2, "  ALPHA   beta GAMMA ", "2024-01-01 00:10:00"),  # dup of 1
        (3, "delta epsilon", "2024-01-01 00:20:00"),
        (4, "alpha beta gamma", "2024-01-01 00:30:00"),       # dup of 1
        (5, "zeta", "2024-01-01 00:40:00"),
    ]
    batch = spark.createDataFrame(
        rows, "doc_id bigint, text string, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    batch.write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    deduped = streaming_exact_dedup(
        with_content_fingerprint(stream), ["fingerprint"], "ts"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("s_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("s_dedup").collect()

    # exactly-once CONTENT: one survivor per fingerprint, and the surviving
    # fingerprint set equals the batch exact_dedup's. WHICH representative
    # survives is arrival-order within a micro-batch (not doc_id) — only
    # the content contract is stream/batch portable, so that is what we pin.
    assert len(out) == len({r.fingerprint for r in out})
    want_fps = {r.fingerprint for r in exact_dedup(fingerprint(batch)).collect()}
    assert {r.fingerprint for r in out} == want_fps
    assert len(out) == 3


def test_streaming_fingerprint_dedup_matches_batch_with_late_edge(
    spark, tmp_path
):
    """Batch↔streaming equivalence for content-fingerprint dedup over the
    real documents slice, micro-batch by micro-batch, with the late-data
    edge pinned: an event older than the watermark is dropped by the stream
    (never emitted, never deduped) while the nightly batch exact_dedup pass
    still sees it — the lambda split streaming/dedup.py documents.

    Mirrors test_streaming_sessionize_matches_batch_gap_split: availableNow
    runs against an appended parquet source make micro-batch boundaries (and
    hence watermark advancement) deterministic."""
    import datetime

    import pyspark.sql.functions as F

    from network_iq_spark.operators.dedup import exact_dedup
    from network_iq_spark.operators.text import fingerprint
    from network_iq_spark.sources import load_table
    from network_iq_spark.streaming import (
        streaming_exact_dedup,
        with_content_fingerprint,
    )

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "deduped_out")
    base = datetime.datetime(2024, 3, 1)

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .withColumn(
            "ts",
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double")),
        )
    )
    b1 = docs.filter(F.col("doc_id") < 400)
    b2_new = docs.filter(F.col("doc_id") >= 400)
    # in-watermark duplicates of 20 batch-1 docs: same text, fresh ids,
    # event times ~10 min after the originals (well inside the 2 h delay)
    b2_dups = (
        b1.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            "text",
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("ts"),
        )
    )

    def run_once() -> None:
        stream = spark.readStream.schema(
            "doc_id bigint, text string, ts timestamp"
        ).parquet(src)
        q = (
            streaming_exact_dedup(
                with_content_fingerprint(stream), ["fingerprint"], "ts"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1.write.mode("overwrite").parquet(src)
    run_once()
    b2_new.unionByName(b2_dups).write.mode("append").parquet(src)
    run_once()
    # batch 3: a far-future sentinel advances the watermark; batch 4 then
    # delivers a LATE unique row (content no stream batch has seen) whose
    # event time sits 10 days behind the advanced watermark → dropped late
    late_row = [(20_000, "late unique straggler content", base - datetime.timedelta(days=10))]
    sentinel = spark.createDataFrame(
        [(-1, "sentinel far future", base + datetime.timedelta(days=30))],
        "doc_id bigint, text string, ts timestamp",
    )
    sentinel.write.mode("append").parquet(src)
    run_once()
    late = spark.createDataFrame(
        late_row, "doc_id bigint, text string, ts timestamp"
    )
    late.write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out).filter(F.col("doc_id") >= 0).collect()
    got_fps = {r.fingerprint for r in got}
    # exactly-once content within the stream
    assert len(got) == len(got_fps)

    # the nightly batch pass sees everything at rest, late rows included
    at_rest = b1.unionByName(b2_new).unionByName(b2_dups).unionByName(late)
    batch_fps = {r.fingerprint for r in exact_dedup(fingerprint(at_rest)).collect()}
    late_fp = {r.fingerprint for r in fingerprint(late).collect()}

    # equivalence modulo the late edge: stream == batch minus the late row
    assert got_fps == batch_fps - late_fp
    # and the edge itself: batch caught what the watermark had to drop
    assert late_fp <= batch_fps and not (late_fp & got_fps)
    # the 20 in-watermark duplicates were deduped, 500 uniques survived
    assert len(got) == 500


def test_enrich_stream_broadcast_dim_matches_batch_and_keeps_unmatched(
    spark, source_dir
):
    from pyspark.sql import functions as F

    from network_iq_spark.ingest import telemetry_schema
    from network_iq_spark.streaming import enrich_stream, read_telemetry_stream

    # dim deliberately missing some cell_ids → left join must pass those
    # events through with nulls, not drop them
    cells = sorted(
        r.cell_id for r in spark.read.parquet(source_dir).select("cell_id").distinct().collect()
    )
    dim = spark.createDataFrame(
        [(c, f"site-{c}") for c in cells[:-2]], "cell_id string, site_name string"
    )
    stream = read_telemetry_stream(spark, source_dir, telemetry_schema())
    _run_to_memory(enrich_stream(stream, dim, on="cell_id"), "t_enriched", "append")

    got = spark.table("t_enriched")
    batch = spark.read.parquet(source_dir).join(F.broadcast(dim), "cell_id", "left")
    assert got.count() == batch.count() == spark.read.parquet(source_dir).count()
    got_by_cell = {
        r.cell_id: (r.n, r.sites)
        for r in got.groupBy("cell_id")
        .agg(F.count("*").alias("n"), F.count("site_name").alias("sites"))
        .collect()
    }
    for c in cells[:-2]:
        n, sites = got_by_cell[c]
        assert n == sites  # matched cells fully enriched
    for c in cells[-2:]:
        n, sites = got_by_cell[c]
        assert n > 0 and sites == 0  # unmatched events flow through with nulls


def test_enrich_stream_rejects_wrong_sides(spark, source_dir):
    import pytest as _pytest

    from network_iq_spark.ingest import telemetry_schema
    from network_iq_spark.streaming import enrich_stream, read_telemetry_stream

    stream = read_telemetry_stream(spark, source_dir, telemetry_schema())
    static = spark.read.parquet(source_dir)
    with _pytest.raises(ValueError):
        enrich_stream(static, static.limit(1), on="cell_id")
    with _pytest.raises(ValueError):
        enrich_stream(stream, stream, on="cell_id")


def test_interval_join_streams_matches_batch_interval_join(spark, tmp_path):
    """Attribution shape: clicks joined to impressions on user within
    10 minutes. The streaming result (availableNow drain) must equal the
    batch interval join on the same data."""
    import datetime

    from pyspark.sql import functions as F

    from network_iq_spark.streaming import interval_join_streams

    base = datetime.datetime(2025, 7, 1)
    imps = [
        (i, base + datetime.timedelta(minutes=3 * i), i % 5)
        for i in range(40)
    ]
    # clicks: some inside the 10-min window, some outside, some keyless
    clicks = [
        (100 + i, base + datetime.timedelta(minutes=3 * i + (4 if i % 2 else 40)), i % 5)
        for i in range(40)
    ]
    imp_dir, clk_dir = str(tmp_path / "imps"), str(tmp_path / "clicks")
    spark.createDataFrame(imps, "imp_id bigint, imp_ts timestamp, user_id bigint").write.parquet(imp_dir)
    spark.createDataFrame(clicks, "click_id bigint, click_ts timestamp, user_id bigint").write.parquet(clk_dir)

    li = spark.readStream.schema("imp_id bigint, imp_ts timestamp, user_id bigint").parquet(imp_dir)
    rc = spark.readStream.schema("click_id bigint, click_ts timestamp, user_id bigint").parquet(clk_dir)
    joined = interval_join_streams(
        li, rc, key="user_id", left_ts="imp_ts", right_ts="click_ts",
        watermark="2 hours",
    ).select("imp_id", "click_id")
    q = (
        joined.writeStream.format("memory").queryName("t_attrib")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted((r.imp_id, r.click_id) for r in spark.table("t_attrib").collect())

    bi, bc = spark.read.parquet(imp_dir), spark.read.parquet(clk_dir).withColumnRenamed("user_id", "u2")
    want = sorted(
        (r.imp_id, r.click_id)
        for r in bi.join(
            bc,
            (F.col("user_id") == F.col("u2"))
            & (F.col("click_ts") >= F.col("imp_ts"))
            & (F.col("click_ts") <= F.col("imp_ts") + F.expr("INTERVAL 10 minutes")),
        ).collect()
    )
    assert got == want and len(got) > 0


def test_interval_join_streams_rejects_static_sides(spark, tmp_path):
    import pytest as _pytest

    from network_iq_spark.streaming import interval_join_streams

    p = str(tmp_path / "d")
    df = spark.createDataFrame([(1,)], "user_id bigint")
    df.write.parquet(p)
    stream = spark.readStream.schema("user_id bigint").parquet(p)
    with _pytest.raises(ValueError):
        interval_join_streams(df, stream, "user_id", "a", "b")
    with _pytest.raises(ValueError):
        interval_join_streams(stream, df, "user_id", "a", "b")


def test_sliding_distinct_sketch_matches_batch_replay(spark, source_dir):
    """The HLL++ sliding-window distinct estimate must be identical between
    the streaming drain and a batch replay of the same data (mergeable,
    register-maxing sketch ⇒ arrival-order and micro-batch independent) —
    and exact-count-close at this tiny cardinality."""
    from pyspark.sql import functions as F

    from network_iq_spark.ingest import telemetry_schema
    from network_iq_spark.streaming import read_telemetry_stream, sliding_distinct_keys

    stream = read_telemetry_stream(spark, source_dir, telemetry_schema())
    _run_to_memory(
        sliding_distinct_keys(stream), "t_sliding_distinct", "append"
    )
    got = {
        (r.window_start, r.window_end): (r.approx_distinct, r.n_rows)
        for r in spark.table("t_sliding_distinct").collect()
    }
    assert got

    batch = (
        spark.read.parquet(source_dir)
        .groupBy(F.window("timestamp", "3 hours", "1 hour"))
        .agg(
            F.approx_count_distinct("cell_id", 0.02).alias("ad"),
            F.count("*").alias("n"),
            F.countDistinct("cell_id").alias("exact"),
        )
        .select(F.col("window.start").alias("ws"), F.col("window.end").alias("we"),
                "ad", "n", "exact")
    )
    for r in batch.collect():
        key = (r.ws, r.we)
        if key in got:  # streaming append emits only watermark-closed windows
            assert got[key] == (r.ad, r.n)
            assert abs(r.ad - r.exact) <= max(1, 0.1 * r.exact)


def test_rate_source_tumbling_kpis_match_batch_twin(spark):
    """The source seam must not change the aggregates: tumbling KPIs over a
    RATE-source stream equal the batch aggregate over the same counter
    prefix. telemetry_from_rate is a pure function of the counter, the rate
    source always delivers a contiguous prefix, and the metric is
    integer-valued — so total-n identifies the prefix exactly and sums are
    float-exact; only stddev gets a tolerance (partial-variance order)."""
    import time

    import pytest
    from pyspark.sql import functions as F

    from network_iq_spark.streaming import read_telemetry_stream, tumbling_kpis
    from network_iq_spark.streaming.kpis import telemetry_from_rate

    stream = read_telemetry_stream(
        spark, source="rate",
        options={"rowsPerSecond": 2000, "numPartitions": 2},
    )
    assert stream.isStreaming
    telem = telemetry_from_rate(stream)
    agg = tumbling_kpis(
        telem, keys=["cell_id"], window="1 minute", watermark="0 seconds"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_kpis")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.table("rate_kpis").collect()
            if sum(r.n for r in rows) >= 2000:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(60)

    got = {
        (r.window_start, r.cell_id): (r.avg_value, r.std_value, r.n)
        for r in spark.table("rate_kpis").collect()
    }
    n_total = sum(v[2] for v in got.values())
    assert n_total >= 2000

    batch = (
        telemetry_from_rate(
            spark.range(n_total).select(F.col("id").alias("value"))
        )
        .groupBy(F.window("timestamp", "1 minute"), "cell_id")
        .agg(
            F.avg("latency_ms").alias("avg_value"),
            F.stddev_samp("latency_ms").alias("std_value"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("window.start").alias("ws"), "cell_id",
            "avg_value", "std_value", "n",
        )
    )
    want = {
        (r.ws, r.cell_id): (r.avg_value, r.std_value, r.n)
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][2] == want[k][2], k          # counts exact
        assert got[k][0] == want[k][0], k          # integer-valued avg exact
        if want[k][1] is None:
            assert got[k][1] is None, k
        else:
            assert got[k][1] == pytest.approx(want[k][1], rel=1e-9, abs=1e-9), k


def test_kafka_value_decode_matches_schema(spark):
    """decode_kafka_telemetry parses Kafka's wire frame (binary value) into
    typed telemetry columns — pure column expressions, verified on a static
    frame with the connector's exact schema (no broker needed)."""
    from pyspark.sql import functions as F

    from network_iq_spark.ingest import telemetry_schema
    from network_iq_spark.streaming.kpis import decode_kafka_telemetry

    pdf = telemetry_pdf().head(20)
    src = spark.createDataFrame(pdf)
    wire = src.select(
        F.lit(None).cast("binary").alias("key"),
        F.encode(F.to_json(F.struct(*src.columns)), "utf-8").alias("value"),
        F.lit("telemetry").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    decoded = decode_kafka_telemetry(wire, telemetry_schema())
    assert decoded.columns == [f.name for f in telemetry_schema().fields]
    got = decoded.orderBy("timestamp", "cell_id").collect()
    want = src.select(*decoded.columns).orderBy("timestamp", "cell_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_unknown_stream_source_raises(spark):
    import pytest

    from network_iq_spark.streaming import read_telemetry_stream

    with pytest.raises(ValueError, match="unknown stream source"):
        read_telemetry_stream(spark, source="pulsar")


def test_python_datasource_stream_replayable(spark, tmp_path):
    """The Python streaming source's offset is a pure cursor: rows consumed
    through the stream equal the deterministic row function over the
    consumed range, and readBetweenOffsets replays any range identically
    (the checkpoint-recovery contract)."""
    from network_iq_spark.sources.pysource import (
        SyntheticTelemetry,
        _TelemetryStreamReader,
    )

    spark.dataSource.register(SyntheticTelemetry)
    stream = (
        spark.readStream.format("niq_telemetry")
        .option("rows_per_batch", 50)
        .option("seed", 3)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("pysrc_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("pysrc_stream").count() >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(60)

    got = sorted(tuple(r) for r in spark.table("pysrc_stream").collect())
    n = len(got)
    assert n >= 100
    reader = _TelemetryStreamReader({"rows_per_batch": 50, "seed": 3})
    want = sorted(reader.readBetweenOffsets({"row": 0}, {"row": n}))
    assert got == want


def test_incremental_near_dup_sink_streams_against_at_rest_index(spark, tmp_path):
    """Continual-ingest near-dup AS A STREAM: batch 0 bootstraps the
    corpus + LSH index; batch 1's near-duplicate of a batch-0 doc is
    dropped while its novel doc survives and joins the index; replaying
    batch 1 converges (per-batch partition overwrite, not append); a
    batch-2 near-dup of the BATCH-1 survivor is caught too (the index
    grew mid-stream)."""
    from network_iq_spark.streaming.dedup import incremental_near_dup_sink

    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    sets = str(tmp_path / "sets")
    sink = incremental_near_dup_sink(corpus, bands, sets, threshold=0.6)

    base = ("the quick brown fox jumps over the lazy dog again and again today "
            "while the merry little band of travellers watches from the old hill")
    nd1 = base.replace("lazy", "sleepy")      # near-dup of doc 1
    novel = ("completely different words about spark parquet shuffles and joins "
             "plus executors partitions codegen catalyst and adaptive planning")
    nd_novel = novel.replace("codegen", "compile")  # near-dup of batch-1 survivor

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    sink(docs([(1, base), (2, "some other unrelated text entirely here okay")]), 0)
    sink(docs([(10, nd1), (11, novel)]), 1)

    def corpus_ids():
        return sorted(r.doc_id for r in spark.read.parquet(corpus).collect())

    assert corpus_ids() == [1, 2, 11]  # 10 dropped as near-dup of 1
    sink(docs([(10, nd1), (11, novel)]), 1)  # replay converges
    assert corpus_ids() == [1, 2, 11]
    sink(docs([(20, nd_novel)]), 2)  # near-dup of the MID-STREAM survivor
    assert corpus_ids() == [1, 2, 11]
    # index grew with every surviving batch
    assert sorted(set(r.doc_id for r in spark.read.parquet(bands).collect())) == [1, 2, 11]


def _md5_bytes(key, n, width=2):
    import hashlib

    return [
        int(hashlib.md5(f"{key}:{j}".encode()).hexdigest()[:width], 16)
        for j in range(n)
    ]


def _words(seed, n):
    return " ".join(f"w{seed}x{j}" for j in range(n))


def _pcm(seed, n=64):
    return [-32000 + v % 64000 for v in _md5_bytes(f"pcm{seed}", n, 4)]


def _walk(seed, n=64):
    acc, out = 0, []
    for step in _md5_bytes(f"walk{seed}", n, 4):
        acc = max(-32000, min(32000, acc + step % 4001 - 2000))
        out.append(acc)
    return out


def _chunked(seed):
    return " ".join(_words(f"{seed}c{k}", 20) for k in range(4))


def _brighten(px):
    return [min(v + 3, 255) if j % 16 == 0 else v for j, v in enumerate(px)]


def _crop_1px(px):
    return [px[8 * r + k] for r in range(1, 8) for k in range(1, 8)]


def _decimate(s):
    return [int((a + b) / 2) for a, b in zip(s[::2], s[1::2])]


def _recycle_3_of_4(text):
    return " ".join(text.split()[:60]) + " " + _words("fresh", 20)


def _sink_case(name, spark, root):
    """(sink, corpus path, {index path: id divisor}, frame(rows), item(seed),
    twin(item)) for one admission sink. A row is (id, *item); twin(item) is
    a payload the sink must reject once item is at rest. The divisor maps
    an index row's id to its corpus id (chunk ids carry the doc id)."""
    from network_iq_spark.operators.dedup import image_dhash
    from network_iq_spark.queries._fragments import _CHUNK_ID_BASE
    from network_iq_spark.streaming import dedup as SD

    def paths(*names):
        return [str(root / n) for n in names]

    def frame(schema, post=lambda df: df):
        return lambda rows: post(spark.createDataFrame(rows, schema))

    text = frame("doc_id bigint, text string")
    clips = frame("media_id bigint, s array<int>")
    if name == "near_dup":
        c, b, s = paths("corpus", "bands", "sets")
        return (SD.incremental_near_dup_sink(c, b, s), c, {b: 1, s: 1}, text,
                lambda seed: (_words(seed, 40),), lambda it: (f"{it[0]} more",))
    if name == "media":
        c, i = paths("corpus", "index")
        dhash = frame(
            "media_id bigint, px array<int>",
            lambda df: df.select("media_id", image_dhash().alias("dhash")),
        )
        return (SD.incremental_media_dedup_sink(c, i, "dhash", 6, 56), c, {i: 1},
                dhash, lambda seed: (_md5_bytes(f"img{seed}", 64),),
                lambda it: (_brighten(it[0]),))
    if name == "crop":
        c, t, g = paths("corpus", "toks", "grids")
        return (SD.incremental_crop_dedup_sink(c, t, g), c, {t: 1, g: 1},
                frame("media_id bigint, w int, h int, px array<int>"),
                lambda seed: (8, 8, _md5_bytes(f"grid{seed}", 64)),
                lambda it: (7, 7, _crop_1px(it[2])))
    if name == "trim":
        c, t, q = paths("corpus", "toks", "seqs")
        return (SD.incremental_trim_dedup_sink(c, t, q), c, {t: 1, q: 1}, clips,
                lambda seed: (_pcm(seed),), lambda it: (it[0][2:],))
    if name == "resample":
        c, i = paths("corpus", "index")
        return (SD.incremental_resample_dedup_sink(c, i), c, {i: 1}, clips,
                lambda seed: (_pcm(seed),), lambda it: (_decimate(it[0]),))
    if name == "chunk":
        c, b, s = paths("corpus", "bands", "sets")
        chunk_ids = dict.fromkeys((b, s), _CHUNK_ID_BASE)
        return (SD.chunk_admission_sink(c, b, s), c, chunk_ids, text,
                lambda seed: (_chunked(seed),), lambda it: (_recycle_3_of_4(it[0]),))
    c, i = paths("corpus", "index")
    return (SD.incremental_landmark_dedup_sink(c, i), c, {i: 1}, clips,
            lambda seed: (_walk(seed),),
            lambda it: ([2 * x + 5 + k % 5 - 2 for k, x in enumerate(it[0][1:-1])],))


@pytest.fixture
def streaming_storage(spark, monkeypatch):
    """Spy on the storage that code in ``network_iq_spark.streaming`` takes:
    the frames it persists or caches and the RDDs its checkpoints persist.
    Returns ``(taken, held)``: ``taken`` lists everything taken so far,
    ``held()`` what of it is still held."""
    import sys

    from pyspark import StorageLevel

    cls = type(spark.range(1))
    jsc = spark.sparkContext._jsc
    frames, rdds = [], set()

    def from_streaming():
        caller = sys._getframe(2).f_globals.get("__name__", "")
        return caller.startswith("network_iq_spark.streaming")

    def spy(method):
        orig = getattr(cls, method)

        def wrapped(self, *args, **kwargs):
            if not from_streaming():
                return orig(self, *args, **kwargs)
            before = set(jsc.getPersistentRDDs().keys())
            out = orig(self, *args, **kwargs)
            rdds.update(set(jsc.getPersistentRDDs().keys()) - before)
            frames.append(out)  # held here, so a GC cannot be what frees it
            return out

        monkeypatch.setattr(cls, method, wrapped)

    for method in ("persist", "cache", "localCheckpoint", "checkpoint"):
        spy(method)

    def held():
        live = set(jsc.getPersistentRDDs().keys())
        cached = [f for f in frames if f.storageLevel != StorageLevel.NONE]
        return cached + sorted(rdds & live)

    return frames, held


SINKS = ("near_dup", "media", "crop", "trim", "resample", "chunk", "landmark")


@pytest.mark.parametrize("name", SINKS)
def test_admission_sink_replay_contract(spark, tmp_path, streaming_storage, name):
    """The contract every admission sink shares. A replayed batch
    converges. A corrected replay (source correction, late rows) probes
    the strictly-earlier snapshot — not its own at-rest rows, which would
    self-match and empty the survivor set — and rewrites the corpus
    partition and every index partition. An all-duplicate corrected
    replay leaves the batch's corpus partition empty rather than keeping
    its previous rows. An empty micro-batch writes empty partitions that
    the next batch still probes past. And when each call returns, the
    sink holds none of the storage it took."""
    from pyspark.sql import functions as F

    sink, corpus, indexes, frame, item, twin = _sink_case(name, spark, tmp_path)
    taken, held = streaming_storage
    h1, h2, novel, novel2, novel3 = (item(s) for s in (1, 2, 11, 12, 31))

    def run(rows, batch_id):
        sink(frame([(i, *payload) for i, payload in rows]), batch_id)
        assert held() == [], f"{name} batch {batch_id} still holds {held()}"

    def ids(path, batch_id=None, divisor=1):
        df = spark.read.parquet(path)
        if batch_id is not None:
            df = df.filter(F.col("batch") == batch_id)
        return sorted({r[0] // divisor for r in df.select(df.columns[0]).collect()})

    run([(1, h1), (2, h2)], 0)
    run([(11, novel)], 1)
    assert ids(corpus) == [1, 2, 11]
    run([(11, novel)], 1)  # replay converges
    assert ids(corpus) == [1, 2, 11]
    run([(12, novel2)], 1)  # corrected replay: 11 withdrawn, 12 delivered
    assert ids(corpus) == [1, 2, 12]
    for path, divisor in indexes.items():
        assert ids(path, 1, divisor) == [12], path
    run([(13, twin(h1))], 1)  # all-duplicate corrected replay
    assert ids(corpus, 1) == []
    assert ids(corpus) == [1, 2]
    run([(12, novel2)], 1)
    run([], 2)  # empty micro-batch
    run([(30, twin(novel2)), (31, novel3)], 3)  # probes batch 1 past the empty one
    assert ids(corpus) == [1, 2, 12, 31]
    assert taken, f"{name} took no storage to release"


def test_incremental_near_dup_sink_with_streaming_source(spark, tmp_path):
    """End-to-end through a real file-source stream: two availableNow
    drains, the second re-delivering an overlapping near-dup batch — the
    at-rest corpus holds exactly the distinct-content docs."""
    from pyspark.sql import functions as F

    from network_iq_spark.streaming.dedup import incremental_near_dup_sink

    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "c2")
    sink = incremental_near_dup_sink(
        corpus, str(tmp_path / "b2"), str(tmp_path / "s2"), threshold=0.6
    )
    base = ("one two three four five six seven eight nine ten eleven twelve "
           "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty")
    spark.createDataFrame(
        [(1, base)], "doc_id bigint, text string"
    ).write.mode("append").parquet(src)

    def drain():
        (
            spark.readStream.schema("doc_id bigint, text string")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    drain()
    spark.createDataFrame(
        [(2, base), (3, "unrelated totally fresh content words here now")],
        "doc_id bigint, text string",
    ).write.mode("append").parquet(src)
    drain()
    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert got == [1, 3]  # 2 = duplicate content of 1, dropped mid-stream


def test_incremental_ann_search_sink_matches_batch_ivf_search(spark, tmp_path):
    """Streaming ANN continual-ingest symmetry (VERDICT r7 item 7): each
    micro-batch's top-k against the at-rest IVF index must equal the
    batch `ivf_search(prebuilt=…)` on the same history snapshot; the
    batch then joins the index (batch 2 can match batch-1 vectors);
    replaying a batch converges (partition overwrite); a missing coarse
    quantizer fails loudly instead of searching nothing."""
    import pytest as _pytest

    from network_iq_spark.operators.similarity import (
        ivf_assign,
        ivf_search,
        seed_centroids,
        with_norm,
    )
    from network_iq_spark.streaming.ann import incremental_ann_search_sink

    def vec(i):
        # integer-valued, never zero-norm (first dim ≥ 1)
        return [float((i * 7 + j * 3) % 11 + (1 if j == 0 else 0)) for j in range(8)]

    def vdf(ids):
        return spark.createDataFrame(
            [(i, vec(i)) for i in ids], "vec_id bigint, v array<double>"
        )

    paths = {n: str(tmp_path / n) for n in ("cent", "corpus", "inv", "res")}
    sink = incremental_ann_search_sink(
        paths["cent"], paths["corpus"], paths["inv"], paths["res"], nprobe=2, k=3
    )

    # missing quantizer -> loud failure, not an empty search
    with _pytest.raises(FileNotFoundError):
        sink(vdf([999]), 0)

    b0, b1, b2 = list(range(20)), [100, 101, 102], [200, 201]
    cent = seed_centroids(with_norm(vdf(b0)), n_cells=4)
    cent.write.parquet(paths["cent"])

    sink(vdf(b0), 0)  # bootstrap: no history yet -> no results
    sink(vdf(b1), 1)
    sink(vdf(b2), 2)

    def got(batch_id):
        from pyspark.sql import functions as F

        return sorted(
            (r.q_vec_id, r.n_vec_id, r.rank, round(r.cos, 12))
            for r in spark.read.parquet(paths["res"])
            .filter(F.col("batch") == batch_id)
            .collect()
        )

    def expected(history_ids, query_ids):
        hist = with_norm(vdf(history_ids))
        inv = ivf_assign(hist, cent)
        res = ivf_search(
            hist, with_norm(vdf(query_ids)), n_cells=0, nprobe=2, k=3,
            prebuilt=(cent, inv),
        )
        return sorted(
            (r.q_vec_id, r.n_vec_id, r.rank, round(r.cos, 12))
            for r in res.collect()
        )

    assert got(0) == []
    assert got(1) == expected(b0, b1) and got(1)
    assert got(2) == expected(b0 + b1, b2) and got(2)
    # batch-1 vectors are searchable by batch 2 — the index grew mid-stream
    assert any(n in b1 for _, n, _, _ in got(2)) or all(
        n in b0 for _, n, _, _ in got(2)
    )
    replay_before = got(1)
    sink(vdf(b1), 1)  # replay converges: same partition rewritten
    assert got(1) == replay_before
    corpus_ids = sorted(
        r.vec_id for r in spark.read.parquet(paths["corpus"]).collect()
    )
    assert corpus_ids == sorted(b0 + b1 + b2)


def test_incremental_ann_search_sink_releases_its_batch(
    spark, tmp_path, streaming_storage
):
    """The ann sink holds each batch for one evaluation (search, assign and
    three writes) and releases it when the call returns, first batch and
    probing batch alike."""
    from network_iq_spark.operators.similarity import seed_centroids, with_norm
    from network_iq_spark.streaming.ann import incremental_ann_search_sink

    taken, held = streaming_storage

    def vdf(ids):
        return spark.createDataFrame(
            [(i, [float((i * 7 + j * 3) % 11 + 1) for j in range(8)]) for i in ids],
            "vec_id bigint, v array<double>",
        )

    paths = [str(tmp_path / n) for n in ("cent", "corpus", "inv", "res")]
    seed_centroids(with_norm(vdf(range(8))), n_cells=2).write.parquet(paths[0])
    sink = incremental_ann_search_sink(*paths, nprobe=2, k=3)
    for batch_id, ids in enumerate((range(8), range(100, 104))):
        sink(vdf(ids), batch_id)
        assert held() == [], f"batch {batch_id} still holds {held()}"
    assert taken


def test_rollup_state_sink_replay_and_compact(spark, tmp_path):
    """Streaming IVM: per-epoch partial states merge to the direct rollup;
    replaying an epoch converges (its directory is rewritten, not folded
    a second time), also when the replayed batch is empty; compaction
    preserves the state byte-for-byte (associativity)."""
    import pyspark.sql.functions as F

    from network_iq_spark.sources.maintenance import present_rollup, rollup_state
    from network_iq_spark.streaming.rollup import (
        compact_rollup_state,
        read_rollup_state,
        rollup_state_sink,
    )

    path = str(tmp_path / "state")
    keys = ["k"]
    sink = rollup_state_sink(path, keys)

    def bdf(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).cast("string").alias("k"),
            (F.col("id") * 0.731 - 40.0).alias("value"),
        )

    batches = [(0, 100), (100, 250), (250, 300)]
    for i, (lo, hi) in enumerate(batches):
        sink(bdf(lo, hi), i)

    def snap():
        return sorted(
            tuple(r) for r in present_rollup(read_rollup_state(spark, path, keys)).collect()
        )

    direct = sorted(
        tuple(r) for r in present_rollup(rollup_state(bdf(0, 300), keys)).collect()
    )
    assert snap() == direct
    sink(bdf(100, 250), 1)  # replay epoch 1 → must converge, not double-count
    assert snap() == direct
    # an EMPTY replay of epoch 2 removes that epoch's partial (a dynamic
    # overwrite of an empty frame touches no partition and keeps it)
    sink(bdf(250, 250), 2)
    assert snap() == sorted(
        tuple(r) for r in present_rollup(rollup_state(bdf(0, 250), keys)).collect()
    )
    sink(bdf(250, 300), 2)
    assert snap() == direct
    compact_rollup_state(spark, path, keys)
    assert snap() == direct
    # the log really was folded: one partial left
    assert spark.read.parquet(path).select("_batch_id").distinct().count() == 1


def test_monoid_state_sink_histogram_and_cm(spark, tmp_path):
    """The generalized log-structured sink carries ANY monoid state:
    histogram quantiles and count-min sketches streamed per-epoch must
    equal their direct single-pass builds, survive replay, and compact
    losslessly — the same laws the rollup sink proves, via the shared
    storage shape."""
    import pyspark.sql.functions as F

    from network_iq_spark.operators.sketches import (
        cm_estimate,
        cm_sketch_state,
        merge_cm_states,
    )
    from network_iq_spark.sources.maintenance import (
        histogram_quantiles,
        histogram_state,
        merge_histogram_states,
    )
    from network_iq_spark.streaming.rollup import (
        compact_monoid_state,
        monoid_state_sink,
        read_monoid_state,
    )

    def bdf(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 2).cast("string").alias("k"),
            (F.col("id") % 997).cast("double").alias("value"),
            F.concat(F.lit("t"), (F.col("id") % 13).cast("string")).alias("tok"),
        )

    hargs = dict(value_col="value", lo=0.0, hi=1000.0, n_bins=100)
    hp = str(tmp_path / "hist")
    hsink = monoid_state_sink(hp, lambda b: histogram_state(b, ["k"], **hargs))
    cp = str(tmp_path / "cm")
    csink = monoid_state_sink(cp, lambda b: cm_sketch_state(b, "tok"))

    for i, (lo, hi) in enumerate([(0, 400), (400, 900), (900, 1200)]):
        hsink(bdf(lo, hi), i)
        csink(bdf(lo, hi), i)
    hsink(bdf(400, 900), 1)  # replay
    csink(bdf(400, 900), 1)

    full = bdf(0, 1200)

    def hq(state):
        return sorted(
            tuple(r)
            for r in histogram_quantiles(
                state, ["k"], lo=0.0, hi=1000.0, n_bins=100
            ).collect()
        )

    direct_h = hq(histogram_state(full, ["k"], **hargs))
    streamed = read_monoid_state(spark, hp, lambda s: merge_histogram_states(s, ["k"]))
    assert hq(streamed) == direct_h
    compact_monoid_state(spark, hp, lambda s: merge_histogram_states(s, ["k"]))
    assert hq(read_monoid_state(spark, hp, lambda s: merge_histogram_states(s, ["k"]))) == direct_h

    cands = full.select("tok").distinct()

    def est(state):
        return sorted(
            tuple(r) for r in cm_estimate(state, cands, "tok").collect()
        )

    direct_c = est(cm_sketch_state(full, "tok"))
    assert est(read_monoid_state(spark, cp, merge_cm_states)) == direct_c
    compact_monoid_state(spark, cp, merge_cm_states)
    assert est(read_monoid_state(spark, cp, merge_cm_states)) == direct_c


def test_incremental_media_dedup_sink_streams_against_at_rest_index(spark, tmp_path):
    """Continual-ingest MEDIA near-dup as a stream: batch 0 bootstraps
    the corpus + dHash segment index; batch 1's perturbed copy of a
    batch-0 image is dropped (Hamming <= 6) while its novel image
    survives and joins the index; replaying batch 1 converges; a batch-2
    perturbed copy of the BATCH-1 survivor is caught (the index grew
    mid-stream)."""
    from network_iq_spark.operators.dedup import image_dhash
    from network_iq_spark.streaming.dedup import incremental_media_dedup_sink

    corpus = str(tmp_path / "mcorpus")
    index = str(tmp_path / "mindex")
    sink = incremental_media_dedup_sink(
        corpus, index, "dhash", max_hamming=6, n_bits=56
    )

    def img(seed):
        # md5-derived pixels: deterministic, and the GRADIENTS differ per
        # seed (a linear ramp would give every image the same dHash)
        import hashlib

        return [
            int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:2], 16)
            for j in range(64)
        ]

    def perturb(px):
        return [min(v + 3, 255) if j % 16 == 0 else v for j, v in enumerate(px)]

    def media(rows):
        df = spark.createDataFrame(rows, "media_id bigint, px array<int>")
        return df.select("media_id", image_dhash().alias("dhash"))

    a, b = img(1), img(2)
    novel = img(40)
    sink(media([(1, a), (2, b)]), 0)
    sink(media([(10, perturb(a)), (11, novel)]), 1)

    def corpus_ids():
        return sorted(r.media_id for r in spark.read.parquet(corpus).collect())

    assert corpus_ids() == [1, 2, 11]  # 10 dropped: perturbed copy of 1
    sink(media([(10, perturb(a)), (11, novel)]), 1)  # replay converges
    assert corpus_ids() == [1, 2, 11]
    sink(media([(20, perturb(novel))]), 2)  # near-dup of mid-stream survivor
    assert corpus_ids() == [1, 2, 11]
    assert sorted(set(r.media_id for r in spark.read.parquet(index).collect())) == [1, 2, 11]


def test_incremental_crop_dedup_sink_converges_and_drops_crops(spark, tmp_path):
    """Streaming crop-tolerant dedup (r11): batch 0 bootstraps the
    sub-block token index; a batch-1 CROP of an at-rest image is dropped
    (invisible to the dHash sink — the crop tier's whole point) while a
    novel image survives; replay converges; a batch-2 crop of the
    MID-STREAM survivor is dropped (the index grew)."""
    import hashlib

    from network_iq_spark.streaming.dedup import incremental_crop_dedup_sink

    corpus = str(tmp_path / "ccorpus")
    toks = str(tmp_path / "ctoks")
    grids = str(tmp_path / "cgrids")
    sink = incremental_crop_dedup_sink(corpus, toks, grids)

    def img(seed):
        return [
            int(hashlib.md5(f"c{seed}:{j}".encode()).hexdigest()[:2], 16)
            for j in range(64)
        ]

    def crop(px, dr, dc):
        g = [px[r * 8 + c] for r in range(dr, 8) for c in range(dc, 8)]
        return (8 - dc, 8 - dr, g)

    def media(rows):
        return spark.createDataFrame(
            rows, "media_id bigint, w int, h int, px array<int>"
        )

    a, b, novel = img(1), img(2), img(40)
    sink(media([(1, 8, 8, a), (2, 8, 8, b)]), 0)
    ca_w, ca_h, ca = crop(a, 1, 1)
    sink(media([(10, ca_w, ca_h, ca), (11, 8, 8, novel)]), 1)

    def corpus_ids():
        return sorted(r.media_id for r in spark.read.parquet(corpus).collect())

    assert corpus_ids() == [1, 2, 11]  # 10 dropped: crop of 1
    sink(media([(10, ca_w, ca_h, ca), (11, 8, 8, novel)]), 1)  # replay converges
    assert corpus_ids() == [1, 2, 11]
    cn_w, cn_h, cn = crop(novel, 2, 0)
    sink(media([(20, cn_w, cn_h, cn)]), 2)  # crop of mid-stream survivor
    assert corpus_ids() == [1, 2, 11]
    assert sorted(set(r.media_id for r in spark.read.parquet(toks).collect())) == [1, 2, 11]
    assert sorted(r.media_id for r in spark.read.parquet(grids).collect()) == [1, 2, 11]


def test_chunk_admission_sink_rejects_boilerplate_heavy_docs(spark, tmp_path):
    """Streaming chunk-overlap admission: batch 0 bootstraps the chunk
    index; in batch 1 a doc that is 3/4 recycled template chunks is
    REJECTED while a doc reusing the same template for only 1/4 of its
    chunks is admitted (the doc-grain near-dup tier would treat both the
    same); replay converges; a corrected replay genuinely rewrites; a
    batch-2 doc recycling the BATCH-1 survivor's chunks is rejected (the
    index grew mid-stream)."""
    from network_iq_spark.streaming.dedup import chunk_admission_sink

    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    sets = str(tmp_path / "sets")
    sink = chunk_admission_sink(corpus, bands, sets, max_dup_ppm=500_000)

    def words(prefix, n=20):
        return " ".join(f"{prefix}{i}" for i in range(n))

    T = words("tmpl")          # the boilerplate paragraph (one whole chunk)
    U1, V1, V2, V3 = words("ua"), words("va"), words("vb"), words("vc")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def corpus_ids():
        return sorted(r.doc_id for r in spark.read.parquet(corpus).collect())

    sink(docs([(1, f"{T} {U1}"), (2, words("other"))]), 0)
    assert corpus_ids() == [1, 2]
    # doc 10: 3 of 4 chunks are the template (75% > 50% cap) -> rejected;
    # doc 11: 1 of 4 chunks recycled (25%) -> admitted
    sink(docs([(10, f"{T} {T} {T} {words('un')}"),
               (11, f"{T} {V1} {V2} {V3}")]), 1)
    assert corpus_ids() == [1, 2, 11]
    sink(docs([(10, f"{T} {T} {T} {words('un')}"),
               (11, f"{T} {V1} {V2} {V3}")]), 1)  # replay converges
    assert corpus_ids() == [1, 2, 11]
    # corrected replay: both docs withdrawn, a fresh one delivered
    sink(docs([(12, words("fresh"))]), 1)
    assert corpus_ids() == [1, 2, 12]
    # restore batch 1 (so the index holds 11's chunks), then batch 2:
    # a doc recycling 3/4 of the BATCH-1 survivor's chunks is rejected
    sink(docs([(11, f"{T} {V1} {V2} {V3}")]), 1)
    sink(docs([(20, f"{V1} {V2} {V3} {words('tail')}")]), 2)
    assert corpus_ids() == [1, 2, 11]


def test_chunk_admission_sink_admits_zero_token_docs(spark, tmp_path):
    """A document whose text yields no [a-z0-9]+ tokens (punctuation-only
    or non-Latin) produces zero chunks; the 0-dup rule admits it
    trivially (0 ≤ ppm·0) rather than silently dropping it at ingest —
    on BOTH the bootstrap batch and a probing batch (r10 ADVICE)."""
    from network_iq_spark.streaming.dedup import chunk_admission_sink

    corpus = str(tmp_path / "corpus")
    sink = chunk_admission_sink(
        corpus, str(tmp_path / "bands"), str(tmp_path / "sets"),
        max_dup_ppm=500_000,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    tmpl = " ".join(f"tmpl{i}" for i in range(20))
    sink(docs([(1, tmpl), (2, "!!! ... ???")]), 0)
    sink(docs([(10, "¡¿ — …"), (11, f"{tmpl} {tmpl}")]), 1)
    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert got == [1, 2, 10]  # 11 rejected (100% recycled); 10 admitted
    sink(docs([(10, "¡¿ — …"), (11, f"{tmpl} {tmpl}")]), 1)  # replay converges
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == [1, 2, 10]


def test_incremental_resample_dedup_sink_converges_both_directions(spark, tmp_path):
    """Streaming resample-derivative dedup (r13): batch 0 bootstraps the
    key index; in batch 1 a 2:1 DECIMATION of an at-rest clip is dropped
    (batch_resampled direction) and so is the FULL-RATE original of an
    at-rest decimation (batch_full direction) while a novel clip
    survives; replay converges; a batch-2 decimation of the MID-STREAM
    survivor is dropped (the index grew)."""
    import hashlib

    from network_iq_spark.streaming.dedup import incremental_resample_dedup_sink

    corpus = str(tmp_path / "rcorpus")
    index = str(tmp_path / "ridx")
    sink = incremental_resample_dedup_sink(corpus, index)

    def clip(seed, n=64):
        return [
            -32000
            + (int(hashlib.md5(f"r{seed}:{j}".encode()).hexdigest()[:4], 16) % 64000)
            for j in range(n)
        ]

    def dec(s):
        return [int((s[2 * k] + s[2 * k + 1]) / 2) for k in range(len(s) // 2)]

    def media(rows):
        return spark.createDataFrame(rows, "media_id bigint, s array<int>")

    a, b, novel = clip(1), clip(2), clip(40)
    # history holds clip 1, clip 2 AND clip 2's decimation (id 3)
    sink(media([(1, a), (2, b), (3, dec(b))]), 0)
    sink(media([(10, dec(a)), (11, list(b)), (12, novel)]), 1)

    def corpus_ids():
        return sorted(r.media_id for r in spark.read.parquet(corpus).collect())

    # 10 dropped (decimation of at-rest 1); 11 dropped (full-rate
    # original of at-rest decimation 3 — NOTE 11 == clip 2 verbatim,
    # but it is the derived-key direction that catches it: own-vs-own
    # is the exact sink's grain, not this one's)
    assert corpus_ids() == [1, 2, 3, 12]
    sink(media([(10, dec(a)), (11, list(b)), (12, novel)]), 1)  # replay
    assert corpus_ids() == [1, 2, 3, 12]
    sink(media([(20, dec(novel))]), 2)  # decimation of mid-stream survivor
    assert corpus_ids() == [1, 2, 3, 12]
    idx = spark.read.parquet(index)
    assert sorted(r.media_id for r in idx.collect()) == [1, 2, 3, 12]
    assert {c for c in idx.columns} >= {"media_id", "n", "own_key", "derived_key"}


def test_incremental_trim_dedup_sink_converges_both_directions(spark, tmp_path):
    """Streaming trim-tolerant dedup (r13): batch 0 bootstraps the
    head-window token index; in batch 1 a TRIM of an at-rest clip is
    dropped (batch_trimmed) and so is the UNTRIMMED original of an
    at-rest trim (batch_full) while a novel clip survives; replay
    converges; a batch-2 trim of the MID-STREAM survivor is dropped."""
    import hashlib

    from network_iq_spark.streaming.dedup import incremental_trim_dedup_sink

    corpus = str(tmp_path / "tcorpus")
    toks = str(tmp_path / "ttoks")
    seqs = str(tmp_path / "tseqs")
    sink = incremental_trim_dedup_sink(corpus, toks, seqs)

    def clip(seed, n=64):
        return [
            -32000
            + (int(hashlib.md5(f"t{seed}:{j}".encode()).hexdigest()[:4], 16) % 64000)
            for j in range(n)
        ]

    def media(rows):
        return spark.createDataFrame(rows, "media_id bigint, s array<int>")

    a, b, novel = clip(1), clip(2), clip(40)
    # history holds clips 1, 2 AND a head-1/tail-1 trim of clip 2 (id 3)
    sink(media([(1, a), (2, b), (3, b[1:-1])]), 0)
    sink(media([(10, a[2:]), (11, list(b)), (12, novel)]), 1)

    def corpus_ids():
        return sorted(r.media_id for r in spark.read.parquet(corpus).collect())

    # 10 dropped (head-2 trim of at-rest 1); 11 dropped (untrimmed
    # original of at-rest trim 3 — the batch_full direction; its
    # own-vs-own identity with clip 2 is the exact sink's grain)
    assert corpus_ids() == [1, 2, 3, 12]
    sink(media([(10, a[2:]), (11, list(b)), (12, novel)]), 1)  # replay
    assert corpus_ids() == [1, 2, 3, 12]
    sink(media([(20, novel[:-2])]), 2)  # trim of mid-stream survivor
    assert corpus_ids() == [1, 2, 3, 12]
    assert sorted(set(r.media_id for r in spark.read.parquet(toks).collect())) == [1, 2, 3, 12]
    assert sorted(r.media_id for r in spark.read.parquet(seqs).collect()) == [1, 2, 3, 12]


def test_incremental_landmark_dedup_sink_converges(spark, tmp_path):
    """Streaming landmark dedup (r14): batch 0 bootstraps the landmark
    index (signal + fingerprints in one row); in batch 1 a
    trim∘gain∘noise re-upload of an at-rest clip is dropped while a
    novel clip survives; replay converges; a batch-2 shift∘gain twin
    of the MID-STREAM survivor is dropped (the index grew)."""
    import hashlib

    from network_iq_spark.streaming.dedup import (
        incremental_landmark_dedup_sink,
    )

    corpus = str(tmp_path / "lmcorpus")
    index = str(tmp_path / "lmindex")
    sink = incremental_landmark_dedup_sink(corpus, index)

    def walk(seed, n=64):
        acc, out = 0, []
        for j in range(n):
            h = int(hashlib.md5(f"lw{seed}:{j}".encode()).hexdigest()[:4], 16)
            acc = max(-32000, min(32000, acc + (h % 4001) - 2000))
            out.append(acc)
        return out

    def noise(seed, k):
        return int(hashlib.md5(f"ln{seed}:{k}".encode()).hexdigest()[:2], 16) % 17 - 8

    def media(rows):
        return spark.createDataFrame(rows, "media_id bigint, s array<int>")

    a, b, novel = walk(1), walk(2), walk(40)
    sink(media([(1, a), (2, b)]), 0)
    twin_a = [2 * x + 5 + noise(1, k) for k, x in enumerate(a[1:-1])]
    sink(media([(10, twin_a), (12, novel)]), 1)

    def corpus_ids():
        return sorted(r.media_id for r in spark.read.parquet(corpus).collect())

    assert corpus_ids() == [1, 2, 12]
    sink(media([(10, twin_a), (12, novel)]), 1)  # replay
    assert corpus_ids() == [1, 2, 12]
    # shift∘gain twin of the MID-STREAM survivor
    twin_n = [3 * x - 7 + noise(40, k) for k, x in enumerate(novel[4:])]
    sink(media([(20, twin_n)]), 2)
    assert corpus_ids() == [1, 2, 12]
    assert sorted(
        r.media_id for r in spark.read.parquet(index).collect()
    ) == [1, 2, 12]
