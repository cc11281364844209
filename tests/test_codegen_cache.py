"""A warm session compiles no generated class again.

The benchmark workloads replay fixed op lists, so every class a pass
needs was compiled by the pass before it. Spark's codegen cache keeps
100 classes by default and a ``panels`` pass needs about 300, so each op
paid its compiles again on every pass; the engine session raises the cap
and drops the codegen stage id from class names (``session.py``).
"""

from __future__ import annotations

import threading

from perfbench.workloads import PANELS

from network_iq_spark.registry import QUERIES

QUERY_NAMES = (*PANELS, "transform_dedup_census")


def _compiles(spark) -> int:
    """Classes the JVM's code generator has compiled so far (cache misses)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _settle(spark) -> None:
    """Wait for whatever else may still compile in this JVM: worker threads
    left by earlier tests, then the listener bus."""
    for t in threading.enumerate():
        if t is not threading.current_thread() and t.name.startswith("ThreadPoolExecutor"):
            t.join(timeout=120)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _pass(spark, sf_dir: str) -> dict[str, int]:
    """Run every query to a noop sink; the classes each one compiled."""
    jsc = spark.sparkContext._jsc
    compiled = {}
    for name in QUERY_NAMES:
        before = set(jsc.getPersistentRDDs().keys())
        n0 = _compiles(spark)
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiled[name] = _compiles(spark) - n0
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid not in before:
                rdd.unpersist(True)
    return compiled


def test_second_pass_compiles_nothing(spark, sf_dir):
    _pass(spark, sf_dir)
    _settle(spark)
    before = _compiles(spark)
    compiled = _pass(spark, sf_dir)
    _settle(spark)
    assert _compiles(spark) - before == 0, {n: c for n, c in compiled.items() if c}
