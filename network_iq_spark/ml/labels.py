"""Label derivation for the next-hour-incident model.

The reference's training script is absent from its repo; the label semantics
are reconstructed (SURVEY.md §2.9 note) from the shipped bundle's
``label_rule`` {metric, q, hi_bad} and the quantile-flag operator the
dashboard uses (streamlit_app.py:342-350, 589-597): a cell-hour is an
incident when the metric lies beyond quantile q of the row-grain scope;
the training target is that flag shifted one hour forward per cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def derive_labels(
    features: DataFrame,
    metric: str = "latency_ms",
    q: float = 0.8,
) -> DataFrame:
    """Append ``label`` = next-hour incident flag: the next hour's
    ``metric`` at or above its ``q`` quantile (a high-is-bad metric).

    ``features`` must carry (cell_id, ts, <metric>). The quantile threshold
    comes from the row-grain scope (A15 semantics); ``lead`` looks one row
    ahead per cell in ts order — rows without a next hour drop (no label).
    """
    thr = features.agg(F.percentile(F.col(metric), F.lit(q)).alias("__thr__"))
    w = Window.partitionBy("cell_id").orderBy("ts")
    nxt = F.lead(F.col(metric), 1).over(w)
    flagged = features.crossJoin(F.broadcast(thr)).withColumn(
        "__next__", nxt
    )
    incident = F.col("__next__") >= F.col("__thr__")
    return (
        flagged.filter(F.col("__next__").isNotNull())
        .withColumn("label", incident.cast("double"))
        .drop("__thr__", "__next__")
    )
