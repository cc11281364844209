"""Registered driver-facing queries, grouped by SURVEY.md §2 section.

Importing this package registers every query into
``network_iq_spark.registry.QUERIES`` / ``ORACLES``. The LLM-data tier
was split out of the monolithic llmdata.py in r10 into family modules
(dedup_q, text_q, similarity_q, media, sampling_q, retrieval,
incremental, with shared fragments in _fragments) — registration order
is preserved by the import order below; the driver-facing sheet order is
``__spark_entry__._ordered``'s (least recently verified first) regardless.
"""

from network_iq_spark.queries import (  # noqa: F401
    extras,
    dedup_q,
    text_q,
    similarity_q,
    media,
    sampling_q,
    llmdata,
    retrieval,
    incremental,
    pipeline,
    relational,
    scale,
    sessions,
    star,
    telemetry,
)
