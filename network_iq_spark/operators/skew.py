"""Skew mitigation (SURVEY.md §7 hard-parts: 'grouped rolling features at
scale — skew per cell_id → salting').

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled``, on in our session). These
operators cover the two shapes AQE does not fix:

- **Salted two-phase aggregation** — one hot group key saturating a single
  reducer. Phase 1 aggregates (key, salt) partials across ``n_salts``
  reducers; phase 2 merges partials per key. Works for any
  decomposable/algebraic aggregate (sum, count, min, max, avg via
  sum+count).
- **Salted broadcast-side replication join** — a hot fact key against a
  small dim: replicate each dim row ``n_salts`` times, salt the fact
  randomly-but-deterministically, join on (key, salt). The fact's hot key
  spreads over ``n_salts`` reducers; the dim stays broadcastable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(df: DataFrame, n_salts: int) -> Column:
    """Deterministic pseudo-random salt (stable across retries — required
    for exactly-once shuffle files). Hashes the FULL row, deliberately NOT
    just the group keys: a per-key hash would map every row of a hot key to
    one salt and defeat the spread; ``rand()``/monotonic ids would break
    retry determinism."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))


def salted_sum_count(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-proof aggregate: per-key sum/count/avg of ``value``.

    Equivalent to ``groupBy(keys).agg(sum, count, avg)`` but no reducer ever
    sees more than ~1/n_salts of a hot key's rows in phase 1.  Sums go
    through the exact integer-unit path (``dsum`` pattern,
    functions/__init__.py) so the two-phase result is bit-identical to the
    single-phase aggregate — float SUM is order-dependent and would drift
    in ulps with the salt regrouping.

    When NOT to use it (measured, docs/SCALE.md hot-key soak): for plain
    sum/count/avg, map-side partial aggregation already collapses a
    50%-hot key to one row per map task — the naive aggregate's runtime
    is FLAT in corpus size while this two-phase form pays a second
    shuffle (~2× slower at every size). Reach for salting only when the
    per-key state is too large to combine map-side (collect-style
    accumulators, exact-distinct sets) or the aggregate is fed by a prior
    shuffle on the bare key.
    """
    from network_iq_spark.functions import DSUM_SCALE_DEFAULT

    mult = float(10**DSUM_SCALE_DEFAULT)
    units = F.floor(F.col(value) * F.lit(mult) + F.lit(0.5)).cast("bigint")
    salted = df.withColumn("__salt__", _salt(df, n_salts))
    partial = salted.groupBy(*keys, "__salt__").agg(
        F.sum(units).alias("__punits__"),
        F.count(value).alias("__pcnt__"),
    )
    total_units = F.sum("__punits__")
    return partial.groupBy(*keys).agg(
        (total_units.cast("double") / F.lit(mult)).alias(f"sum_{value}"),
        F.sum("__pcnt__").alias(f"count_{value}"),
        (total_units.cast("double") / (F.lit(mult) * F.sum("__pcnt__"))).alias(
            f"avg_{value}"
        ),
    )


def salted_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Hot-key-tolerant fact ⟕ dim: dim rows replicate n_salts times (still
    tiny), fact rows salt deterministically, join on (key, salt)."""
    dim_rep = dim.withColumn(
        "__salt__", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    fact_s = fact.withColumn("__salt__", _salt(fact, n_salts))
    joined = fact_s.join(F.broadcast(dim_rep), [key, "__salt__"], "left")
    return joined.drop("__salt__")
