"""Coverage for the remaining §2 odds and ends: grouped-map escape hatch
(W4), ensure_columns (U4), cloud path helpers (S11), contract gate (Q2)."""

from __future__ import annotations

import pandas as pd


def test_grouped_map_escape_hatch(spark):
    """W4: applyInPandas per-group logic — per-group mean-centering, the
    reference's groupby.apply shape (streamlit_app.py:709)."""
    from network_iq_spark.operators.windows import grouped_map

    df = spark.createDataFrame(
        [(1, 1.0), (1, 3.0), (2, 10.0), (2, 30.0)], "id long, v double"
    )

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["v"] = pdf["v"] - pdf["v"].mean()
        return pdf

    out = grouped_map(df, ["id"], center, "id long, v double").collect()
    got = sorted((r.id, r.v) for r in out)
    assert got == [(1, -1.0), (1, 1.0), (2, -10.0), (2, 10.0)]


def test_ensure_columns(spark):
    """U4: missing required columns appear as typed nulls; existing ones
    are untouched."""
    from network_iq_spark.operators.reshape import ensure_columns

    df = spark.createDataFrame([(1.0,)], "a double")
    out = ensure_columns(df, ["a", "b", "c"])
    assert set(out.columns) == {"a", "b", "c"}
    row = out.collect()[0]
    assert row.a == 1.0 and row.b is None and row.c is None


def test_cloud_path_helpers(monkeypatch):
    from network_iq_spark.sources.cloud import (
        env_source_path,
        normalize_cloud_path,
        s3a_conf,
    )

    assert normalize_cloud_path("s3://bucket/key") == "s3a://bucket/key"
    assert normalize_cloud_path("/local/path") == "/local/path"
    monkeypatch.setenv("NETWORKIQ_S3_PATH", "s3://b/raw.csv")
    assert env_source_path() == "s3a://b/raw.csv"
    monkeypatch.delenv("NETWORKIQ_S3_PATH")
    assert env_source_path() is None
    conf = s3a_conf(endpoint="http://minio:9000")
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert "spark.hadoop.fs.s3a.access.key" not in conf


def test_contract_gate(spark):
    """Q2: pass/fail over the Q1 summary row (streamlit_app.py:98-105)."""
    from network_iq_spark.operators.quality import (
        Contract,
        contract_passed,
        contract_summary,
    )

    clean = spark.createDataFrame([(1, 5.0), (2, 7.0)], "id long, v double")
    c = Contract(required=("id", "v"), not_null=("id", "v"), ranges={"v": (0, 10)})
    row = contract_summary(clean, c).collect()[0].asDict()
    assert contract_passed(row)

    dirty = spark.createDataFrame([(1, 50.0), (2, None)], "id long, v double")
    row = contract_summary(dirty, c).collect()[0].asDict()
    assert not contract_passed(row)


# ---------------------------------------------------------------------------
# time-sliced window (skewed-window mitigation)
# ---------------------------------------------------------------------------


def test_time_sliced_rolling_equals_plain_when_frames_dont_span(spark):
    """On a corpus where every key's rows live inside single calendar
    slices, the (slice, key) split is EXACTLY the plain per-key window —
    the mitigation is free wherever frames can't cross a boundary."""
    import datetime

    from network_iq_spark.operators.windows import (
        rolling_features,
        time_sliced_rolling,
    )

    rows = []
    for u in range(4):
        for m in (1, 2):  # two months, but frames ordered within months
            for d in range(1, 6):
                rows.append(
                    (u * 100 + m * 10 + d, u,
                     datetime.datetime(2025, m, d, 12, 0), float(u + m * d))
                )
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, value double"
    )
    plain_df = rolling_features(df, ["user_id"], ["ts"], ["value"])
    sliced_df = time_sliced_rolling(df, ["user_id"], "ts", ["value"], n=3)
    plain = {r["event_id"]: (r["value_rmean"], r["value_rstd"], r["value_rdiff"])
             for r in plain_df.collect()}
    sliced = {r["event_id"]: (r["value_rmean"], r["value_rstd"], r["value_rdiff"])
              for r in sliced_df.collect()}
    # frames DO span the month boundary for the plain window (days 1-2 of
    # month 2 see month-1 rows) — restrict the claim to non-spanning rows,
    # which is exactly the operator's contract
    non_spanning = [e for e in plain
                    if e % 10 >= 3 or (e // 10) % 10 == 1]
    assert non_spanning
    for e in non_spanning:
        assert sliced[e] == plain[e], e
    # and the boundary rows RESET: first row of month 2 has a 1-row frame
    for u in range(4):
        first_m2 = u * 100 + 21
        assert sliced[first_m2][0] == plain_df.filter(
            f"event_id = {first_m2}").collect()[0]["value"]
        assert sliced[first_m2][1] == 0.0  # cnt<2 -> std 0
        assert sliced[first_m2][2] == 0.0  # lag resets


def test_time_sliced_window_bounds_partitions(spark):
    """The physical plan partitions on (slice, keys): the exchange must
    hash on BOTH the date_format slice and the key."""
    import datetime

    from network_iq_spark.operators.windows import time_sliced_rolling

    df = spark.createDataFrame(
        [(1, 1, datetime.datetime(2025, 1, 1), 1.0)],
        "event_id bigint, user_id bigint, ts timestamp, value double",
    )
    plan = (
        time_sliced_rolling(df, ["user_id"], "ts", ["value"], n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    # the materialized slice column keeps the whole family on ONE shuffle,
    # keyed by (slice, user_id)
    assert len(ex) == 1 and "__slice__" in ex[0] and "user_id" in ex[0], plan
    assert "date_format" in plan


# ---------------------------------------------------------------------------
# Spark 4 Python API surfaces: custom DataSource + UDTF
# ---------------------------------------------------------------------------


def test_python_datasource_partitioned_deterministic(spark):
    """The custom source must (a) plan one task per declared partition,
    (b) produce identical rows on every read (pure function of options),
    (c) respect its declared schema."""
    from network_iq_spark.sources.pysource import SyntheticTelemetry

    spark.dataSource.register(SyntheticTelemetry)
    df = (
        spark.read.format("niq_telemetry")
        .option("rows_per_partition", 250)
        .option("n_partitions", 4)
        .option("seed", 7)
        .load()
    )
    assert df.count() == 1000
    assert {f.name for f in df.schema.fields} == {
        "ts", "cell_id", "latency_ms", "throughput_mbps", "part"
    }
    parts = {r.part for r in df.select("part").distinct().collect()}
    assert parts == {0, 1, 2, 3}
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in (
        spark.read.format("niq_telemetry")
        .option("rows_per_partition", 250)
        .option("n_partitions", 4)
        .option("seed", 7)
        .load()
    ).collect())
    assert a == b
    c = (spark.read.format("niq_telemetry")
         .option("rows_per_partition", 250)
         .option("n_partitions", 4)
         .option("seed", 8).load())
    assert sorted(tuple(r) for r in c.collect()) != a  # seed actually seeds


def test_python_datasource_feeds_engine_operators(spark):
    """Generated rows flow through a normal aggregate plan like any scan."""
    from pyspark.sql import functions as F

    from network_iq_spark.sources.pysource import SyntheticTelemetry

    spark.dataSource.register(SyntheticTelemetry)
    df = (
        spark.read.format("niq_telemetry")
        .option("rows_per_partition", 500)
        .option("n_partitions", 2)
        .load()
    )
    agg = df.groupBy("cell_id").agg(F.count("*").alias("n"),
                                    F.avg("latency_ms").alias("avg_lat"))
    rows = agg.collect()
    assert sum(r.n for r in rows) == 1000
    assert all(20 <= r.avg_lat < 70 for r in rows)


def test_sentence_udtf_lateral_join(spark):
    from network_iq_spark.operators.text import make_sentence_udtf

    spark.udtf.register("split_sentences", make_sentence_udtf())
    spark.createDataFrame(
        [(1, "One. Two! Three?"), (2, "No terminator here"), (3, None)],
        "doc_id bigint, text string",
    ).createOrReplaceTempView("docs_udtf")
    rows = spark.sql("""
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM docs_udtf d, LATERAL split_sentences(d.text) s
        ORDER BY d.doc_id, s.sent_idx
    """).collect()
    got = [(r.doc_id, r.sent_idx, r.sentence) for r in rows]
    assert got == [
        (1, 0, "One."), (1, 1, "Two!"), (1, 2, "Three?"),
        (2, 0, "No terminator here"),
    ]


def test_k_anonymity_report_and_suppress(spark):
    """Privacy tier (r11): the report flags under-k combos (NULL quasi
    values group as their own combo), and k_suppress nulls quasi columns
    for exactly those rows — including NULL-bearing combos, which a
    plain equi-join would skip — leaving every surviving combo with
    >= k members or fully suppressed."""
    from network_iq_spark.operators.quality import k_anonymity_report, k_suppress

    rows = (
        [(i, "US", "A") for i in range(5)]        # safe combo (n=5)
        + [(10, "US", "B"), (11, "US", "B")]      # under-k (n=2)
        + [(20, "CA", None), (21, "CA", None)]    # under-k WITH NULL quasi
        + [(30 + i, None, "A") for i in range(5)] # safe combo with NULL
    )
    df = spark.createDataFrame(rows, "id bigint, country string, seg string")
    rep = {
        (r.country, r.seg): (r.n, r.at_risk)
        for r in k_anonymity_report(df, ["country", "seg"], k=3).collect()
    }
    assert rep[("US", "A")] == (5, False)
    assert rep[("US", "B")] == (2, True)
    assert rep[("CA", None)] == (2, True)
    assert rep[(None, "A")] == (5, False)
    out = {r.id: (r.country, r.seg) for r in k_suppress(df, ["country", "seg"], k=3).collect()}
    assert out[0] == ("US", "A") and out[34] == (None, "A")  # safe: untouched
    assert out[10] == (None, None) and out[11] == (None, None)
    assert out[20] == (None, None) and out[21] == (None, None)  # NULL combo suppressed
    assert len(out) == len(rows)  # no row loss, no duplication
    # post-suppression audit: every combo now >= k or is the all-NULL pool
    post = k_anonymity_report(
        k_suppress(df, ["country", "seg"], k=3), ["country", "seg"], k=3
    ).collect()
    assert all(not r.at_risk or (r.country is None and r.seg is None) for r in post)
