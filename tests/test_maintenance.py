"""Compaction must reduce file counts without changing data, and clustering
must produce selective row-group stats."""

from __future__ import annotations

from tests.telemetry_fixture import telemetry_pdf


def test_compact_and_cluster(spark, tmp_path):
    from network_iq_spark.sources.maintenance import compact_parquet_dir

    path = str(tmp_path / "frag")
    df = spark.createDataFrame(telemetry_pdf())
    # fragment: 16 small files
    df.repartition(16).write.parquet(path)
    checksum = df.count(), df.agg({"latency_ms": "sum"}).collect()[0][0]

    before, after = compact_parquet_dir(
        spark, path, target_files=2, cluster_by=["cell_id", "timestamp"]
    )
    assert before == 16 and after == 2

    import pytest

    back = spark.read.parquet(path)
    assert back.count() == checksum[0]
    # float sum is order-dependent across layouts — approx equality
    assert back.agg({"latency_ms": "sum"}).collect()[0][0] == pytest.approx(
        checksum[1], rel=1e-12
    )

    # clustering makes per-file cell_id ranges narrow: check parquet
    # row-group stats via duckdb metadata
    import duckdb

    stats = duckdb.connect().execute(
        f"SELECT stats_min_value, stats_max_value FROM parquet_metadata('{path}/*.parquet') "
        "WHERE path_in_schema = 'cell_id'"
    ).fetchall()
    assert stats
    # range clustering ⇒ every row group covers a narrow key range; none
    # spans the full CELL-001..005 domain (hash layout would)
    assert all((mn, mx) != ("CELL-001", "CELL-005") for mn, mx in stats)


def test_upsert_partitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0),
         (3, "2024-01-02", 30.0), (4, "2024-01-03", 40.0)],
        "id bigint, day string, v double",
    )
    base.write.partitionBy("day").parquet(path)

    updates = spark.createDataFrame(
        [(2, "2024-01-01", 99.0),          # replaces existing key
         (5, "2024-01-02", 50.0)],         # new key, existing partition
        "id bigint, day string, v double",
    )
    n = upsert_partitioned(spark, path, updates, keys=["id"], partition_cols=["day"])
    assert n == 2  # two partitions touched

    got = {(r.id, str(r.day)): r.v for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, "2024-01-01"): 10.0,
        (2, "2024-01-01"): 99.0,   # updated
        (3, "2024-01-02"): 30.0,
        (5, "2024-01-02"): 50.0,   # inserted
        (4, "2024-01-03"): 40.0,   # untouched partition intact
    }

    # idempotence: re-applying the same updates changes nothing
    upsert_partitioned(spark, path, updates, keys=["id"], partition_cols=["day"])
    again = {(r.id, str(r.day)): r.v for r in spark.read.parquet(path).collect()}
    assert again == got

    # untouched-partition files must not be rewritten
    import os
    mtimes_before = {}
    for root, _, files in os.walk(os.path.join(path, "day=2024-01-03")):
        for f in files:
            mtimes_before[f] = os.path.getmtime(os.path.join(root, f))
    upsert_partitioned(
        spark, path,
        spark.createDataFrame([(6, "2024-01-01", 1.0)], "id bigint, day string, v double"),
        keys=["id"], partition_cols=["day"],
    )
    for root, _, files in os.walk(os.path.join(path, "day=2024-01-03")):
        for f in files:
            assert os.path.getmtime(os.path.join(root, f)) == mtimes_before[f]


def test_idempotent_upsert_sink_replay_converges(spark, tmp_path):
    """Replaying any micro-batch (including the bootstrap batch) must leave
    the table in the same state — the exactly-once-effect contract of the
    foreachBatch keyed-upsert sink."""
    from network_iq_spark.streaming import idempotent_upsert_sink

    path = str(tmp_path / "sink_table")
    sink = idempotent_upsert_sink(path, keys=["event_id"], partition_cols=["day"])

    b0 = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 30.0)],
        "event_id bigint, day string, value double",
    )
    b1 = spark.createDataFrame(
        [(3, "d2", 31.0), (4, "d2", 40.0)],  # update + insert
        "event_id bigint, day string, value double",
    )

    def state():
        return sorted(map(tuple, spark.read.parquet(path).select(
            "event_id", "day", "value").collect()))

    sink(b0, 0)
    after_b0 = state()
    sink(b0, 0)  # bootstrap replay
    assert state() == after_b0
    sink(b1, 1)
    after_b1 = state()
    assert (3, "d2", 31.0) in after_b1 and (4, "d2", 40.0) in after_b1
    assert (1, "d1", 10.0) in after_b1
    sink(b1, 1)  # replay converges
    assert state() == after_b1


def test_idempotent_upsert_sink_with_streaming_foreachbatch(spark, tmp_path):
    """End-to-end: a file-source stream drained through foreachBatch lands
    exactly the source rows; re-draining the same data into the same table
    does not duplicate (keyed merge, not append)."""
    from pyspark.sql import functions as F

    from network_iq_spark.streaming import idempotent_upsert_sink

    src = str(tmp_path / "src")
    # day is non-numeric on purpose: hive partition-value inference would
    # otherwise read '0'/'1' back as ints and change the roundtrip schema
    events = spark.range(0, 50).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("d"), (F.col("id") % 3).cast("string")).alias("day"),
        (F.col("id") * 1.5).alias("value"),
    )
    events.write.mode("overwrite").parquet(src)
    table = str(tmp_path / "table")
    sink = idempotent_upsert_sink(table, keys=["event_id"], partition_cols=["day"])

    def drain(checkpoint: str):
        q = (
            spark.readStream.schema("event_id bigint, day string, value double")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain(str(tmp_path / "cp1"))
    got = sorted(map(tuple, spark.read.parquet(table).select(
        "event_id", "day", "value").collect()))
    want = sorted(map(tuple, events.collect()))
    assert got == want
    # fresh checkpoint = full reprocess of the same source: still no dupes
    drain(str(tmp_path / "cp2"))
    again = sorted(map(tuple, spark.read.parquet(table).select(
        "event_id", "day", "value").collect()))
    assert again == want


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    """Clustering-quality metric: mean per-file normalized min-max span,
    summed over both clustering columns. A single-column sort leaves the
    second column's span ~1.0 per file (useless for pruning); the z-order
    layout must cut the combined span well below it."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import zorder_write

    df = (
        spark.range(0, 20000)
        .select(
            (F.col("id") % 1000).alias("a"),
            F.floor(F.col("id") / 20).alias("b"),
        )
    )

    def combined_span(path):
        spans = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.read_metadata(f)
            mins = {c: None for c in ("a", "b")}
            maxs = {c: None for c in ("a", "b")}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        st = col.statistics
                        mins[name] = st.min if mins[name] is None else min(mins[name], st.min)
                        maxs[name] = st.max if maxs[name] is None else max(maxs[name], st.max)
            spans.append(
                (maxs["a"] - mins["a"]) / 999.0 + (maxs["b"] - mins["b"]) / 999.0
            )
        return sum(spans) / len(spans)

    sorted_path = str(tmp_path / "sorted_a")
    (
        df.repartitionByRange(8, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(sorted_path)
    )
    z_path = str(tmp_path / "zordered")
    zorder_write(df, z_path, ["a", "b"], n_files=8)

    # same rows either way
    assert spark.read.parquet(z_path).count() == 20000
    span_sorted = combined_span(sorted_path)
    span_z = combined_span(z_path)
    # sorted-by-a: a-span ~1/8, b-span ~1 → ~1.1; z-order: both ~1/sqrt(8)
    assert span_z < span_sorted * 0.85, (span_z, span_sorted)


def test_zorder_write_layout_is_reproducible(spark, tmp_path):
    """Two writes of the same rows, arriving in different orders and
    partitionings, give the same per-file row sets."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import zorder_write

    df = spark.range(0, 20000).select(
        (F.col("id") % 1000).alias("a"),
        F.floor(F.col("id") / 20).alias("b"),
        F.col("id"),
    )

    def layout(path):
        return {
            frozenset(pq.read_table(f).column("id").to_pylist())
            for f in glob.glob(f"{path}/part-*.parquet")
        }

    zorder_write(df, str(tmp_path / "z1"), ["a", "b"], n_files=8)
    zorder_write(
        df.repartition(5).orderBy(F.rand(3)), str(tmp_path / "z2"), ["a", "b"], n_files=8
    )
    first = layout(tmp_path / "z1")
    assert len(first) == 8
    assert layout(tmp_path / "z2") == first


def test_zorder_write_rejects_bad_arity(spark, tmp_path):
    import pytest as _pytest

    from network_iq_spark.sources.maintenance import zorder_write

    df = spark.range(5).selectExpr("id AS a", "id AS b")
    with _pytest.raises(ValueError):
        zorder_write(df, str(tmp_path / "x"), ["a"])


def test_bucketed_write_roundtrip_and_metadata(spark, tmp_path):
    """bucketed_write records the layout in the catalog and round-trips the
    data exactly; same-count bucketed sides join without an exchange on the
    bucket key."""
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import bucketed_write

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    bucketed_write(df, "t_bw_left", ["k"], 4, str(tmp_path / "left"),
                   sort_cols=["k"])
    bucketed_write(df.select("k", (F.col("v") * 2).alias("w")),
                   "t_bw_right", ["k"], 4, str(tmp_path / "right"),
                   sort_cols=["k"])
    left, right = spark.table("t_bw_left"), spark.table("t_bw_right")
    assert left.count() == 1000
    assert sorted(r.k for r in left.collect()) == list(range(1000))
    joined = left.join(right.hint("merge"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert not [ln for ln in plan.splitlines()
                if "Exchange" in ln and "k#" in ln], plan
    assert joined.count() == 1000
    for t in ("t_bw_left", "t_bw_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_upsert_sink_survives_missing_success_marker(spark, tmp_path):
    """Committers configured with marksuccessfuljobs=false emit no _SUCCESS.
    The sink's ready-probe must key on its own _BOOTSTRAPPED marker so a
    missing committer marker doesn't silently re-run the truncating
    bootstrap write on every micro-batch (ADVICE r6)."""
    import os

    from network_iq_spark.streaming import idempotent_upsert_sink

    path = str(tmp_path / "sink_table")
    sink = idempotent_upsert_sink(path, keys=["event_id"], partition_cols=["day"])

    b0 = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d2", 20.0)],
        "event_id bigint, day string, value double",
    )
    b1 = spark.createDataFrame(
        [(3, "d2", 30.0)], "event_id bigint, day string, value double"
    )
    sink(b0, 0)
    assert os.path.exists(os.path.join(path, "_BOOTSTRAPPED"))
    # simulate a cloud committer: no _SUCCESS anywhere
    success = os.path.join(path, "_SUCCESS")
    if os.path.exists(success):
        os.remove(success)
    sink(b1, 1)  # must UPSERT, not re-bootstrap (which would drop b0's rows)
    got = sorted(
        map(tuple, spark.read.parquet(path).select("event_id", "value").collect())
    )
    assert got == [(1, 10.0), (2, 20.0), (3, 30.0)]


def test_snapshot_diff_classifies_added_removed_changed(spark):
    from network_iq_spark.sources.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k bigint, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 31.0), (4, "d", 40.0)],
        "k bigint, s string, v double",
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, keys=["k"]).collect()}
    # key 2 is unchanged -> absent from the sparse diff
    assert got == {1: "removed", 3: "changed", 4: "added"}
    # compare_cols restriction: v excluded -> 3 is no longer "changed"
    got2 = {
        r.k: r.change
        for r in snapshot_diff(old, new, keys=["k"], compare_cols=["s"]).collect()
    }
    assert got2 == {1: "removed", 4: "added"}


def test_snapshot_diff_null_position_participates_in_hash(spark):
    """concat_ws skips NULLs, so without the coalesce-to-sentinel
    ('a', NULL) and (NULL, 'a') would hash identically and a real change
    would vanish from the diff; a value moving between NULL and non-NULL
    likewise must classify as changed."""
    from network_iq_spark.sources.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, "x", "y"), (3, None, None)],
        "k bigint, c1 string, c2 string",
    )
    new = spark.createDataFrame(
        [(1, None, "a"), (2, "x", "y"), (3, None, "")],
        "k bigint, c1 string, c2 string",
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, keys=["k"]).collect()}
    # 1: NULL swapped columns; 3: NULL -> empty string — both real changes
    assert got == {1: "changed", 3: "changed"}


def test_file_manifest_and_pruned_read_skip_files(spark, tmp_path):
    """The Iceberg-style skipping loop: a footer-only manifest over a
    z-ordered directory lets a 2-D box predicate read a FRACTION of the
    files on BOTH columns, while the sorted-by-a layout prunes only on
    a; results must equal the full scan either way (skipping is an I/O
    optimization, never a semantics change)."""
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import (
        parquet_file_manifest,
        pruned_parquet_read,
        zorder_write,
    )

    df = spark.range(0, 20000).select(
        (F.col("id") % 1000).alias("a"),
        F.floor(F.col("id") / 20).alias("b"),
    )
    z_path = str(tmp_path / "z")
    zorder_write(df, z_path, ["a", "b"], n_files=16)
    a_path = str(tmp_path / "bya")
    (
        df.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(a_path)
    )

    box = {"a": (100, 199), "b": (100, 199)}
    expected = df.filter(
        F.col("a").between(100, 199) & F.col("b").between(100, 199)
    ).count()
    assert expected > 0

    results = {}
    for name, path in (("z", z_path), ("bya", a_path)):
        man = parquet_file_manifest(spark, path, ["a", "b"])
        sub, kept, total = pruned_parquet_read(spark, man, box)
        got = sub.filter(
            F.col("a").between(100, 199) & F.col("b").between(100, 199)
        ).count()
        assert got == expected, name  # pruning never changes results
        assert total == 16, name
        results[name] = kept

    # z-order: both columns selective at file grain → strictly fewer
    # files than the single-column layout for a 2-D box
    assert results["z"] < results["bya"], results
    assert results["z"] <= 8, results


def test_pruned_read_keeps_files_with_missing_stats(spark, tmp_path):
    """Soundness: a file whose stats are absent for a predicate column
    must be KEPT (skipping may only drop provably-disjoint files)."""
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import (
        parquet_file_manifest,
        pruned_parquet_read,
    )

    p = str(tmp_path / "t")
    spark.range(0, 100).select(F.col("id").alias("a")).coalesce(2).write.parquet(p)
    man = parquet_file_manifest(spark, p, ["a"]).withColumn(
        "min_a", F.lit(None).cast("bigint")
    )
    sub, kept, total = pruned_parquet_read(spark, man, {"a": (5, 6)})
    assert kept == total  # stats gone → nothing may be skipped
    assert sub.filter(F.col("a").between(5, 6)).count() == 2


def test_pruned_read_empty_selection(spark, tmp_path):
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import (
        parquet_file_manifest,
        pruned_parquet_read,
    )

    p = str(tmp_path / "t2")
    spark.range(0, 100).select(F.col("id").alias("a")).coalesce(4).write.parquet(p)
    man = parquet_file_manifest(spark, p, ["a"])
    sub, kept, total = pruned_parquet_read(spark, man, {"a": (1000, 2000)})
    assert kept == 0 and total == 4
    assert sub.count() == 0 and "a" in sub.columns


def test_distinct_sketch_merge_deterministic_and_bounded(spark):
    """Sketch-state properties: (a) the merge is deterministic — replaying
    the same partials can never move the estimate (what a streaming replay
    needs); (b) batching-invariant — 3-way and 2-level merges of the same
    rows agree (associativity of register-max); (c) merged AND direct
    estimates are within the HLL error bound of exact. NOT asserted:
    merged == direct — DataSketches unions run through an HLL_8 gadget
    whose estimator differs from a directly-built sketch by a few counts
    (both stay in-bound); see rollup_distinct_state's docstring."""
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import (
        merge_distinct_states,
        present_distinct_rollup,
        rollup_distinct_state,
    )

    df = spark.range(5000).select(
        (F.col("id") % 4).cast("string").alias("k"),
        # collisions on purpose: ~1700 distinct users spread over groups
        (F.col("id") * 37 % 1701).alias("user_id"),
        F.col("id").alias("event_id"),
    )
    keys = ["k"]

    def snap(state_df):
        return {
            r.k: (r.n_rows, r.approx_distinct)
            for r in present_distinct_rollup(state_df).collect()
        }

    direct = snap(rollup_distinct_state(df, keys, "user_id"))
    parts = [
        rollup_distinct_state(df.filter(F.col("event_id") % 3 == i), keys, "user_id")
        for i in range(3)
    ]
    m3 = snap(merge_distinct_states(parts, keys))
    # (a) deterministic replay: merging the same partials again → identical
    assert snap(merge_distinct_states(parts, keys)) == m3
    # (b) batching-invariant: ((p0 ⊕ p1) ⊕ p2) == (p0 ⊕ p1 ⊕ p2)
    two_level = merge_distinct_states(
        [merge_distinct_states(parts[:2], keys), parts[2]], keys
    )
    assert snap(two_level) == m3
    # row counts are the exact monoid — merged must equal direct exactly
    assert {k: v[0] for k, v in m3.items()} == {k: v[0] for k, v in direct.items()}
    # (c) both estimates within 5% of exact per group (~2.5% bound at lgk=12)
    exact = {
        r.k: r.x
        for r in df.groupBy("k").agg(F.countDistinct("user_id").alias("x")).collect()
    }
    for est_map in (direct, m3):
        for k, (_, est) in est_map.items():
            assert abs(est - exact[k]) / exact[k] < 0.05


def test_delete_keys_partitioned(spark, tmp_path):
    """Right-to-be-forgotten: matching rows gone (including a partition
    deleted WHOLE — the dynamic-overwrite blind spot), untouched
    partitions' files never rewritten, audit counts exact."""
    import os

    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import delete_keys_partitioned

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        # day 1: users 1,2;  day 2: ONLY user 1 (fully emptied by delete);
        # day 3: user 3 (untouched)
        [(1, "d1", 10.0), (2, "d1", 20.0), (1, "d2", 30.0), (3, "d3", 40.0)],
        "user_id bigint, day string, value double",
    )
    df.write.partitionBy("day").parquet(path)
    untouched_files = {
        f for f in os.listdir(os.path.join(path, "day=d3")) if f.endswith(".parquet")
    }
    mtimes = {
        f: os.path.getmtime(os.path.join(path, "day=d3", f)) for f in untouched_files
    }

    forget = spark.createDataFrame([(1,)], "user_id bigint")
    out = delete_keys_partitioned(
        spark, path, forget, keys=["user_id"], partition_cols=["day"]
    )
    assert out == {"rows_deleted": 2, "partitions_rewritten": 2}

    back = spark.read.parquet(path)
    assert sorted(tuple(r) for r in back.select("user_id", "day", "value").collect()) == [
        (2, "d1", 20.0),
        (3, "d3", 40.0),
    ]
    # the fully-emptied partition directory is gone
    assert not os.path.exists(os.path.join(path, "day=d2"))
    # untouched partition files were not rewritten
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(path, "day=d3", f)) == m

    # no-match delete is a no-op
    out2 = delete_keys_partitioned(
        spark, path, spark.createDataFrame([(99,)], "user_id bigint"),
        keys=["user_id"], partition_cols=["day"],
    )
    assert out2 == {"rows_deleted": 0, "partitions_rewritten": 0}


def test_histogram_state_merge_and_error_bound(spark):
    """Histogram-state laws: merged quantiles == direct (bin counts are a
    count monoid), and the estimate is within one bin width of the true
    quantile (the fixed-histogram contract)."""
    import numpy as np

    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import (
        histogram_quantiles,
        histogram_state,
        merge_histogram_states,
    )

    rng = np.random.default_rng(3)
    vals = rng.uniform(0, 900, size=2000)
    rows = [(int(i), "k%d" % (i % 2), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id bigint, k string, value double")
    keys = ["k"]
    args = dict(value_col="value", lo=0.0, hi=1000.0, n_bins=200)

    def snap(state):
        return {
            r.k: (r.n_vals, r.p50_est, r.p95_est)
            for r in histogram_quantiles(
                state, keys, lo=0.0, hi=1000.0, n_bins=200
            ).collect()
        }

    direct = snap(histogram_state(df, keys, **args))
    parts = [
        histogram_state(df.filter(F.col("event_id") % 3 == i), keys, **args)
        for i in range(3)
    ]
    merged = snap(merge_histogram_states(parts, keys))
    assert merged == direct
    # error bound: within one 5-unit bin of the exact quantile
    for g in ("k0", "k1"):
        sub = np.sort(vals[np.arange(2000) % 2 == (0 if g == "k0" else 1)])
        for pct, est in ((50, direct[g][1]), (95, direct[g][2])):
            exact = sub[int(np.ceil(pct / 100 * len(sub))) - 1]
            assert abs(est - exact) <= 5.0 + 1e-9, (g, pct, est, exact)
