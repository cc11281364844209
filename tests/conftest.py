from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from network_iq_spark.session import get_spark

    s = get_spark(app_name="network-iq-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group on this
    thread and returns ``(result, n)``, where ``n`` is how many Spark jobs
    it launched. Job groups are thread-local, so jobs that other threads
    run meanwhile are not counted."""
    import itertools

    sc = spark.sparkContext
    ids = itertools.count()

    def run(fn):
        group = f"count_jobs_{next(ids)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job starts reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


class _RegistryPrefetch:
    """Build every registry query ONCE per sf_dir and capture everything the
    whole-registry test passes consume — collected rows, Spark schema,
    executed-plan text, and the DuckDB oracle's rows/description/arrow
    schema — overlapping the independent builds in a thread pool
    (guide §2.6: actions are only sequential because the driver calls them
    sequentially).

    Motivation (r15, VERDICT item 1): the oracle-parity, oracle-types and
    plan-quality suites each rebuilt/re-ran all 215 registry plans — three
    serial full-registry passes ≈ 1000 s of the 35-minute suite that timed
    out the external pytest gate. Each query still computes from the parquet
    inputs inside this pytest session (nothing persists across runs, and the
    per-test assertions are byte-identical); only the redundant rebuilds and
    the serial driver loop are gone.

    Errors are stored per query and re-raised inside the consuming test so
    failure attribution is unchanged.
    """

    WORKERS = 8
    # below this many collected consumer tests, build lazily per query —
    # a selective `pytest -k one_query` run must not pay the full sweep
    BULK_THRESHOLD = 25

    def __init__(self, spark, bulk: bool):
        self._spark = spark
        self._bulk = bulk
        self._by_sf: dict[str, dict] = {}
        self._lock = threading.Lock()

    def entry(self, sf_dir: str, name: str) -> dict:
        with self._lock:
            cache = self._by_sf.setdefault(sf_dir, {})
            entry = cache.get(name)
        if entry is None:
            if self._bulk:
                built = self._build(sf_dir)
            else:
                built = dict([self._one(sf_dir, name)])
            with self._lock:
                cache = self._by_sf[sf_dir]
                for k, v in built.items():
                    cache.setdefault(k, v)
                entry = cache[name]
        if "err" in entry:
            raise entry["err"]
        return entry

    def _one(self, sf_dir: str, name: str):
        return self._one_impl(sf_dir)(name)

    def _one_impl(self, sf_dir: str):
        import duckdb

        from network_iq_spark.registry import ORACLES, QUERIES
        from network_iq_spark.sources import TABLES

        views = [
            (t, os.path.join(sf_dir, f"{t}.parquet"))
            for t in TABLES
            if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
        ]

        def one(name: str):
            out: dict = {}
            try:
                df = QUERIES[name](self._spark, sf_dir)
                # initial physical plan, captured before execution — the
                # same thing test_plan_quality asserted on
                out["plan"] = df._jdf.queryExecution().executedPlan().toString()
                out["schema"] = df.schema
                out["cols"] = list(df.columns)
                out["rows"] = df.collect()
            except Exception as exc:  # noqa: BLE001 — re-raised in-test
                return name, {"err": exc}
            sql = ORACLES.get(name)
            if sql is not None:
                try:
                    # one connection per worker call: DuckDB releases the
                    # GIL during execution, so oracles overlap too
                    con = duckdb.connect()
                    for t, path in views:
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                        )
                    res = con.execute(sql)
                    out["duck_desc"] = [d[0] for d in res.description]
                    # fetchall, NOT arrow: the parity compare depends on
                    # fetchall's HUGEINT→int normalization (see
                    # test_oracle_types.py's module docstring)
                    out["duck_rows"] = res.fetchall()
                    out["duck_arrow_schema"] = con.execute(
                        sql
                    ).fetch_arrow_table().schema
                    con.close()
                except Exception as exc:  # noqa: BLE001 — re-raised in-test
                    return name, {"err": exc}
            return name, out

        return one

    def _build(self, sf_dir: str) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        from network_iq_spark.registry import QUERIES

        one = self._one_impl(sf_dir)
        results = {}
        with ThreadPoolExecutor(max_workers=self.WORKERS) as pool:
            for name, res in pool.map(
                inheritable_thread_target(self._spark)(one), sorted(QUERIES)
            ):
                results[name] = res
        return results


@pytest.fixture(scope="session")
def registry_prefetch(request, spark) -> _RegistryPrefetch:
    # bulk-build only when this pytest session actually sweeps the registry
    # (the full-suite / driver case); a selective -k run stays lazy
    consumers = sum(
        1
        for item in request.session.items
        if item.nodeid.rpartition("/")[2].startswith(
            ("test_oracle_parity", "test_oracle_types", "test_plan_quality")
        )
    )
    return _RegistryPrefetch(spark, bulk=consumers >= _RegistryPrefetch.BULK_THRESHOLD)
