"""``sources.load_table``'s schema memo: a table's parquet schema is inferred
once per file version, and every call still returns a fresh relation with
the same timestamp normalization as an inferring read."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from network_iq_spark.sources import load_table

SCAN_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _write(path: str, **cols) -> None:
    pq.write_table(pa.table(cols), path)


def test_warm_load_launches_no_job(spark, count_jobs, tmp_path):
    _write(
        str(tmp_path / "t.parquet"),
        k=pa.array(range(10), pa.int64()),
        s=pa.array([str(i) for i in range(10)]),
    )
    cold, cold_jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "t"))
    warm, warm_jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "t"))
    # the miss infers the schema with a job, which also proves the counter
    assert cold_jobs >= 1
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_rewritten_file_is_reinferred(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write(p, k=pa.array([1, 2], pa.int64()), a=pa.array(["x", "y"]))
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "a"]
    load_table(spark, str(tmp_path), "t")  # hit
    _write(
        p,
        k=pa.array([1, 2, 3], pa.int64()),
        b=pa.array([0.5, 1.5, 2.5]),
        c=pa.array(["p", "q", "r"]),
    )
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, 0.5, "p"), (2, 1.5, "q"), (3, 2.5, "r"),
    ]


def test_directory_table_version_covers_every_file(spark, count_jobs, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    _write(str(d / "part-0.parquet"), k=pa.array([1, 2], pa.int64()))
    assert load_table(spark, str(tmp_path), "t").count() == 2
    _, warm_jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "t"))
    assert warm_jobs == 0
    # a new file under the directory is a new version: re-inferred
    _write(str(d / "part-1.parquet"), k=pa.array([3], pa.int64()))
    df, jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.count() == 3
    # without mergeSchema Spark takes one file's schema, so swap them all
    for f in os.listdir(d):
        os.remove(d / f)
    _write(str(d / "part-0.parquet"), k=pa.array([4], pa.int64()), v=pa.array(["x"]))
    assert [tuple(r) for r in load_table(spark, str(tmp_path), "t").collect()] == [
        (4, "x")
    ]


def test_self_join_of_two_loads_matches_duckdb(spark, sf_dir):
    import duckdb

    from pyspark.sql import functions as F

    load_table(spark, sf_dir, "orders")  # warm: both loads below are hits
    a = load_table(spark, sf_dir, "orders").alias("a")
    b = load_table(spark, sf_dir, "orders").alias("b")
    by_alias = a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey")).count()
    # df["col"] references must name two distinct relations, which only
    # holds if each call builds its own
    x, y = load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "orders")
    by_ref = x.join(y, x["o_custkey"] == y["o_custkey"]).count()
    path = os.path.join(sf_dir, "orders.parquet")
    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}') a "
        f"JOIN read_parquet('{path}') b ON a.o_custkey = b.o_custkey"
    ).fetchone()[0]
    assert by_alias == by_ref == want
    assert want > 0


# one value per hour, with sub-microsecond digits the NANOS flavor drops
_MICROS = [1_700_000_000_123_456 + i * 3_600_000_001 for i in range(5)]
_EXPECTED = [
    dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us) for us in _MICROS
]


@pytest.mark.parametrize(
    "ts",
    [
        pa.array([us * 1000 + 789 for us in _MICROS], pa.timestamp("ns")),
        pa.array(_MICROS, pa.timestamp("us")),  # naive: isAdjustedToUTC=false
    ],
    ids=["nanos", "micros_naive"],
)
def test_events_ts_flavors_read_as_utc_timestamp(spark, count_jobs, tmp_path, ts):
    _write(
        str(tmp_path / "events.parquet"),
        event_id=pa.array(range(len(_MICROS)), pa.int64()),
        ts=ts,
    )
    confs = {k: spark.conf.get(k) for k in SCAN_CONFS}
    for expect_jobs in (True, False):  # miss, then hit
        df, jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "events"))
        assert (jobs >= 1) is expect_jobs
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert [r.ts for r in df.orderBy("event_id").collect()] == _EXPECTED
        # the caller's session is left as found on both paths
        assert {k: spark.conf.get(k) for k in SCAN_CONFS} == confs


def test_missing_table_raises_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    confs = {k: spark.conf.get(k) for k in SCAN_CONFS}
    for _ in range(2):  # a missing table is never memoized
        with pytest.raises(AnalysisException) as ei:
            load_table(spark, str(tmp_path), "nope")
        assert ei.value.getCondition() == "PATH_NOT_FOUND"
    assert {k: spark.conf.get(k) for k in SCAN_CONFS} == confs
