"""Count-min frequency sketch — the third mergeable-state family member.

The IVM tier keeps three kinds of approximate state, each with the
strongest determinism its algebra allows:

- distinct  → HLL register arrays (register-max monoid; estimate
  deterministic per input set, but merged ≠ direct by a few counts —
  measured in tests)
- quantiles → fixed-boundary histograms (count monoid; EXACTLY
  SQL-replayable)
- frequencies → THIS: count-min (Cormode & Muthukrishnan 2005) — a d×w
  integer counter matrix, which is a plain SUM monoid, and because the
  row hashes are md5-derived (the minhash trick), the whole sketch,
  its merge, and every point estimate are EXACTLY replayable in SQL.

Guarantee: estimate ≥ true count always (never under), within
εN (ε = e/w) with probability 1−δ (δ = e^−d). The sketch state is
d·w integers — bounded, at-rest-friendly, and the merge
is associative/commutative (sum), so per-batch sketches fold exactly
like the rollup monoid.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CM_DEPTH, CM_WIDTH = 4, 256
CM_HEX_DIGITS = 12  # md5 prefix width — exact in int64 (48 bits)


def _bucket_expr(item_expr: str, row_expr: str, width: int) -> str:
    """md5-derived bucket for (row, item) — identical text in the SQL twin
    (via queries' _sql_hex_int helper) so sketches replay exactly."""
    return (
        f"cast(conv(substring(md5(concat(cast({row_expr} as string), ':', "
        f"{item_expr})), 1, {CM_HEX_DIGITS}), 16, 10) as bigint) % {width}"
    )


def cm_sketch_state(
    items: DataFrame,
    item_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Build the sketch state: each item increments one bucket per hash
    row. One explode (×depth) + one combinable groupBy — the map-side
    partials ARE partial sketches, so the shuffle carries at most
    d × w rows per map task, never the item stream."""
    rows = items.select(
        F.col(item_col).alias("_it"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    ).select(
        "row",
        F.expr(_bucket_expr("_it", "row", width)).alias("bucket"),
    )
    return rows.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))


def merge_cm_states(states: Sequence[DataFrame]) -> DataFrame:
    """Fold sketches: counters add (SUM monoid — associative, commutative,
    exact)."""
    from functools import reduce

    unioned = reduce(lambda a, b: a.unionByName(b), states)
    return unioned.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    state: DataFrame,
    candidates: DataFrame,
    item_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-estimate candidate items: min over the d bucket counters.
    Candidates × d probe rows join the state on (row, bucket) — the state
    side is d·w rows (broadcastable by construction)."""
    probes = candidates.select(
        F.col(item_col).alias("_it"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    ).select(
        "_it",
        "row",
        F.expr(_bucket_expr("_it", "row", width)).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(state), ["row", "bucket"])
        .groupBy("_it")
        .agg(F.min("cnt").alias("cm_est"))
        .select(F.col("_it").alias(item_col), "cm_est")
    )
