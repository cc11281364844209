#!/usr/bin/env python
"""1x/3x/10x growing-HISTORY soak for the streaming chunk-overlap
admission sink (VERDICT r10 item 7): the media tier's O(batch) claim is
measured (exponent -0.02); this measures the same claim for
chunk_admission_sink — a FIXED 400-doc batch admitted against an at-rest
chunk LSH index built from a history that grows 1x -> 10x. The per-batch
cost must stay flat: the sink probes the index via band-bucket
collisions (O(batch chunks x collision rate)), never rescans history.

Corpus shape: every doc is 4 chunks of 20 tokens; 10 % of history docs
carry one shared template chunk (realistic boilerplate collisions, not
the 31-word degenerate vocabulary); the probe batch is half
template-recycling docs (3/4 dup chunks -> must be REJECTED at the 20 %
cap) and half fresh docs (must be admitted) — so the soak also asserts
the admission decision stays correct at every scale. Batch 0 is the
at-rest index a deployment already has on disk.

Run: python scripts/ab.py chunk_admission_sink   (sink state under .soak/)
"""

from __future__ import annotations

from ab import FRESH_ID, sink_cell
from network_iq_spark.streaming.dedup import chunk_admission_sink

BASE_DOCS = 3_000
BATCH_DOCS = 400
TEMPLATE_EVERY = 10  # 10% of history docs carry the template chunk


def _chunk(prefix: str, n: int = 20) -> str:
    return " ".join(f"{prefix}w{i}" for i in range(n))


TEMPLATE = _chunk("tmpl")


def history_rows(mult: int):
    n = BASE_DOCS * mult
    rows = []
    for i in range(n):
        parts = [_chunk(f"h{i}c{j}") for j in range(4)]
        if i % TEMPLATE_EVERY == 0:
            parts[0] = TEMPLATE
        rows.append((i, " ".join(parts)))
    return rows


def batch_rows():
    rows = []
    for i in range(BATCH_DOCS):
        doc_id = FRESH_ID + i
        if i % 2 == 0:  # template-heavy: 3 of 4 chunks recycled -> reject
            rows.append(
                (doc_id, " ".join([TEMPLATE] * 3 + [_chunk(f"b{i}f")]))
            )
        else:  # fresh: admit
            rows.append(
                (doc_id, " ".join(_chunk(f"b{i}c{j}") for j in range(4)))
            )
    return rows


CELLS = [
    sink_cell(
        "chunk_admission_sink",
        "admission_soak",
        chunk_admission_sink,
        ("bands", "sets"),
        "doc_id bigint, text string",
        history_rows,
        batch_rows,
        BATCH_DOCS // 2,
        "fixed 400-doc batch, at-rest index",
    )
]
