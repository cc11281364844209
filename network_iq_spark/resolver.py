"""Lenient-on-read column resolution (SURVEY.md §1.2 schema policy).

The reference reads defensively: case-insensitive, alias-tolerant column
lookup (``pick("timestamp","ts","datetime",…)`` streamlit_app.py:41-52, again
at 770-793 and 964-965). Our engine keeps strict-on-write schemas but mirrors
that tolerance at plan-build time: aliases resolve once against the schema
(a driver-side dict lookup — no scan, no runtime cost).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

# canonical name -> accepted aliases (first match wins), reference order
TELEMETRY_ALIASES: dict[str, tuple[str, ...]] = {
    "timestamp": ("timestamp", "ts", "datetime", "time"),
    "cell_id": ("cell_id", "cell", "site_id", "user_id"),
    "pred_prob": ("pred_prob", "probability", "prob", "score"),
    "lat": ("lat", "latitude"),
    "lon": ("lon", "lng", "longitude"),
}


def pick(df: DataFrame, *candidates: str) -> str | None:
    """First column whose lowercase name matches a candidate (reference
    ``pick`` semantics)."""
    by_lower = {c.lower(): c for c in df.columns}
    for cand in candidates:
        if cand.lower() in by_lower:
            return by_lower[cand.lower()]
    return None


def resolve(df: DataFrame, required: Sequence[str] = ()) -> DataFrame:
    """Rename ``TELEMETRY_ALIASES`` columns to canonical names; raise only
    for missing *required* canonicals."""
    out = df
    for canonical, cands in TELEMETRY_ALIASES.items():
        found = pick(out, *cands)
        if found is None:
            if canonical in required:
                raise ValueError(f"missing required column {canonical!r} "
                                 f"(accepted aliases: {list(cands)})")
            continue
        if found != canonical:
            out = out.withColumnRenamed(found, canonical)
    return out
