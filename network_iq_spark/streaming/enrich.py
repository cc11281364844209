"""Stream-static enrichment joins.

The third leg of the streaming tier (alongside watermarked aggregates and
arbitrary-state operators): attach slowly-changing dimension attributes to a
live event stream. Spark plans a stream-static equi-join as a per-micro-batch
broadcast hash join against the static side — no streaming state at all, so
the join adds zero bytes to the state store and the watermark story is
untouched. The static side is re-resolved per batch, which is exactly the
"latest dim snapshot wins" semantics a reference-data join wants.

100 TB posture: the dim side must stay broadcast-sized (dims are); for a
big-big stream join you switch to a stream-stream join with watermarks on
both sides — different operator, different state cost, deliberately not
hidden behind this helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """Broadcast the static dim onto the stream with a left join.

    ``left``: an event whose key is missing from reference data must flow
    through (with nulls) rather than silently vanish — dropping unmatched
    events inside an enrichment step is the classic silent-loss bug in
    streaming pipelines.
    """
    if not stream.isStreaming:
        raise ValueError("enrich_stream expects a streaming DataFrame")
    if dim.isStreaming:
        raise ValueError(
            "dim side must be static (stream-stream joins need watermarks "
            "on both sides — use an explicit stream-stream join instead)"
        )
    return stream.join(F.broadcast(dim), on, "left")
