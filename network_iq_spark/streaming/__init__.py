from network_iq_spark.streaming.ann import incremental_ann_search_sink
from network_iq_spark.streaming.dedup import (
    streaming_exact_dedup,
    with_content_fingerprint,
)
from network_iq_spark.streaming.enrich import enrich_stream
from network_iq_spark.streaming.joins import interval_join_streams
from network_iq_spark.streaming.rollup import (
    compact_monoid_state,
    compact_rollup_state,
    monoid_state_sink,
    read_monoid_state,
    read_rollup_state,
    rollup_state_sink,
)
from network_iq_spark.streaming.sink import idempotent_upsert_sink
from network_iq_spark.streaming.kpis import (
    latest_per_key,
    read_telemetry_stream,
    sliding_distinct_keys,
    tumbling_kpis,
)
from network_iq_spark.streaming.sessions import streaming_sessionize

__all__ = [
    "enrich_stream",
    "incremental_ann_search_sink",
    "idempotent_upsert_sink",
    "interval_join_streams",
    "latest_per_key",
    "streaming_exact_dedup",
    "with_content_fingerprint",
    "read_telemetry_stream",
    "sliding_distinct_keys",
    "streaming_sessionize",
    "tumbling_kpis",
]
