"""Stream-stream joins with watermark-bounded state.

The remaining streaming join shape (enrich.py covers stream-static): two
live streams joined on a key within an event-time interval — the classic
"impression ⋈ click within 10 minutes" attribution pattern. Spark buffers
both sides in the state store; the watermarks PLUS the time-range predicate
are what let it evict state — without the range condition the buffers grow
forever, so this helper refuses to build the join without one.

100 TB posture: state per key is bounded by (watermark + interval) of
events; the join shuffles both streams on the key once. Inner joins emit as
matches arrive; outer variants must wait for the watermark to close a row,
so their results trail by the watermark delay — that latency is inherent,
not a bug.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "20 minutes",
) -> DataFrame:
    """Inner-join two streams on ``key`` where ``right_ts`` lands within
    [left_ts, left_ts + 10 minutes]. Both sides get the same watermark; the
    range predicate bounds the state the store must keep.

    Column hygiene: the right side's key is renamed before the join so the
    output carries a single unambiguous key column.
    """
    if not (left.isStreaming and right.isStreaming):
        raise ValueError(
            "interval_join_streams expects two streaming DataFrames "
            "(use enrich_stream for stream-static)"
        )
    lk, rk = key, f"__r_{key}"
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark).withColumnRenamed(key, rk)
    cond = (
        (F.col(lk) == F.col(rk))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr("INTERVAL 10 minutes"))
    )
    return l.join(r, cond, "inner").drop(rk)
