"""SparkSession factory with the engine's scale-posture defaults.

The reference creates a bare session (``src/ingest/spark_ingest.py:6``). Our
engine pins the configs that matter at 100 TB:

- **AQE on** (runtime re-planning: skew-join splitting, partition coalescing,
  broadcast-join conversion after runtime stats).
- **Arrow on** for any pandas interchange (vectorized batch transfer).
- ``spark.sql.shuffle.partitions`` sized for the local test harness; on a real
  cluster this is the *initial* partition count and AQE coalesces from there.
- Session timezone pinned to UTC so event-time semantics match the columnar
  at-rest representation (tz-naive UTC per reference doc, streamlit_app.py:21)
  and the DuckDB correctness oracle.
- **Each generated class compiled once per session.** Dashboards replay
  the same plans, so a warm pass should find every whole-stage class in
  the codegen cache. Spark keeps 100 by default; a ``panels`` pass
  (perfbench) needs about 310 and one pass over the registry 2,241
  distinct ones, so each op compiled its classes again on every pass. The
  cache now holds ``CODEGEN_CACHE_ENTRIES``, and class names leave out the
  codegen stage id, which AQE numbers in planning order: with several
  arms in flight (``transform_dedup_census``) the same pipeline got a
  different id, and so a different cache key, from run to run. Compiles
  per warm pass (4 cores, sf0.01 catalog): ``panels`` 308 → 0, ``dedup``
  371 → 0; the registry at sf0.001 about 5,540 → 0-6. Metaspace after
  three registry passes: 205 → 222 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Initial shuffle parallelism for the local harness. At cluster scale set this
# to ~2-3x total cores (or rely on AQE coalescing from a high initial value).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Generated classes the session keeps compiled (Spark's default is 100).
# A pass over the registry compiles 2,241 distinct ones, so this leaves
# 1.8x headroom; see the module docstring.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "network-iq-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    If a session already exists (e.g. the verification driver owns it), it is
    returned untouched — engine operators never mutate a caller's session.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Silence the 128 MB driver UI etc. for the test harness.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
