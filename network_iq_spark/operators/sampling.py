"""Deterministic sampling & dataset splitting — the reproducibility tier of
a training-data pipeline.

``df.sample()`` / ``rand()`` are nondeterministic across retries, partition
layouts, and engines — a training pipeline that samples with them cannot
reproduce its own train set, and a task retry can silently change the data
(the same reason operators/skew.py salts with a row hash, not rand()). Every
operator here derives its randomness from an md5 of (key, salt): stable
under retries, shuffles, scale-out, and bit-identical in any engine that
can md5 — which is what lets the registry pair these with DuckDB oracles.

Bucket = first 12 hex digits of md5 as an integer, mod 10_000 (basis-point
resolution). At 100 TB everything below is a stateless map over the fact
table — no shuffle, no coordination, trivially parallel.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 10_000


def _bp(rate: float) -> int:
    """Rate → basis points. ``round``, not ``int``: float error sits on
    either side of the exact product (0.57 * 10000 = 5699.999…), and
    truncation would skew every such rate one basis point low — diverging
    from any oracle that computes exact basis points."""
    return round(rate * BUCKETS)


def hash_bucket(key: Column, salt: str = "") -> Column:
    """Stable pseudo-random bucket in [0, BUCKETS) from md5(key ‖ salt).
    Same conv(substring(md5)) integer contract as dedup.minhash_sig."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 12), 16, 10
    ).cast("bigint")
    return F.pmod(h, F.lit(BUCKETS))


def deterministic_sample(
    df: DataFrame, key: str, rate: float, salt: str = ""
) -> DataFrame:
    """Keep ~rate of rows, chosen by key hash — the reproducible
    ``df.sample``. Re-running, re-partitioning, or re-scaling the job keeps
    EXACTLY the same rows; a different salt draws an independent sample."""
    return df.filter(hash_bucket(F.col(key), salt) < _bp(rate))


def hash_split(
    df: DataFrame,
    key: str,
    weights: Mapping[str, float],
    salt: str = "",
) -> DataFrame:
    """Assign every row to one named split (train/val/test…) by key hash.

    Weights are cumulative basis-point ranges in dict order; they must sum
    to ≤ 1.0 (any remainder becomes NULL — a loud signal, not silent
    inclusion). A row's split NEVER changes when the corpus grows, which is
    the property naive ``randomSplit`` lacks and leakage audits need.
    """
    bucket = hash_bucket(F.col(key), salt)
    expr = None
    cum = 0.0
    for name, w in weights.items():
        # accumulate in float, round the CUMULATIVE boundary: per-term
        # truncation compounds across splits (0.57+0.1+… each a bp low)
        cum += w
        cond = bucket < _bp(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame, key: str, strata_col: str, rates: Mapping
) -> DataFrame:
    """Per-stratum deterministic sampling (the reproducible ``sampleBy``):
    each stratum keeps its own fraction, keyed by the same row hash. Strata
    missing from ``rates`` are dropped (rate 0)."""
    bucket = hash_bucket(F.col(key))
    thr = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == F.lit(stratum)
        lim = F.lit(_bp(rate))
        thr = F.when(cond, lim) if thr is None else thr.when(cond, lim)
    return df.filter(bucket < F.coalesce(thr, F.lit(0)))


def equalize_groups(df: DataFrame, key: str, group: str) -> DataFrame:
    """Deterministic domain-mix resampling: downsample every group to the
    size of the smallest so the output mix is uniform — the degenerate but
    exactly-checkable case of target-proportion data mixing (the Pile /
    DoReMi-style domain reweighting, public recipes).

    The per-group keep rate is an *integer* basis-point floor
    (``min_count·10⁴ div count_g``) and membership is the same md5 bucket
    as :func:`deterministic_sample`, so the drawn set is reproducible under
    any partitioning and any engine. Group stats are a tiny aggregate →
    broadcast join; the pass over the facts is map-only.

    The rate is clamped to ≥ 1 bp: a group more than ``BUCKETS`` (10⁴)×
    larger than the smallest would otherwise floor to rate 0 and vanish
    entirely — a plausible skew at crawl scale (one tiny language vs a
    huge one). With the clamp such a group keeps ≈ count_g/10⁴ rows
    (≥ min_count exactly when the clamp fires), i.e. it stays
    over-represented rather than silently disappearing. 1 bp is the
    minimum representable keep-rate of the bucket space.
    """
    counts = df.groupBy(group).agg(F.count("*").alias("__n__"))
    floor_n = counts.agg(F.min("__n__").alias("__min_n__"))
    rates = counts.crossJoin(F.broadcast(floor_n)).select(
        group,
        F.greatest(
            F.expr(f"__min_n__ * {BUCKETS} div __n__"), F.lit(1)
        ).alias("__rate_bp__"),
    )
    return df.join(F.broadcast(rates), group).filter(
        hash_bucket(F.col(key), "mix") < F.col("__rate_bp__")
    ).drop("__rate_bp__")


def target_mixture(
    df: DataFrame,
    key: str,
    group: str,
    targets_bp: Mapping[str, int],
) -> DataFrame:
    """Deterministic downsampling to an ARBITRARY target mixture — the
    general form of :func:`equalize_groups` (Pile/DoReMi-style domain
    reweighting with explicit shares, public recipes). ``targets_bp``
    gives each group's intended share of the OUTPUT in integer basis
    points (e.g. ``{"en": 4000, "es": 2500}``); groups absent from the
    targets are dropped.

    The math is ALL integer so any engine replays it exactly:
    feasible output size ``T = min_g(count_g * 10^4 div share_g)`` (the
    largest total for which every group can supply its share without
    upsampling — the binding group keeps everything), per-group keep
    target ``share_g * T div 10^4``, and keep-rate
    ``rate_bp_g = max(keep_g * 10^4 div count_g, 1)`` (the ≥1 bp clamp of
    :func:`equalize_groups`, same vanishing-group rationale). Membership
    is the shared md5 bucket, so the drawn set is stable under growth,
    any partitioning, and any engine; realized counts track the targets
    to bucket granularity (~1 bp), which a mixture audit then verifies.

    Scale shape: one tiny per-group aggregate → scalar min → broadcast
    rate table; the pass over the corpus is map-only.
    """
    shares = F.create_map(
        *[x for g, bp in targets_bp.items() for x in (F.lit(g), F.lit(int(bp)))]
    )
    counts = (
        df.groupBy(group)
        .agg(F.count("*").alias("__n__"))
        .withColumn("__share__", shares[F.col(group)])
        .filter(F.col("__share__").isNotNull() & (F.col("__share__") > 0))
    )
    feasible = counts.agg(
        F.min(F.expr(f"__n__ * {BUCKETS} div __share__")).alias("__T__")
    )
    rates = counts.crossJoin(F.broadcast(feasible)).select(
        group,
        F.col("__n__"),
        F.greatest(
            F.expr(f"(__share__ * __T__ div {BUCKETS}) * {BUCKETS} div __n__"),
            F.lit(1),
        ).alias("__rate_bp__"),
    )
    return (
        df.join(F.broadcast(rates.drop("__n__")), group)
        .filter(hash_bucket(F.col(key), "mix") < F.col("__rate_bp__"))
        .drop("__rate_bp__")
    )


def sample_k_per_group(
    df: DataFrame,
    group: str,
    key: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """EXACTLY min(k, |group|) rows per group, chosen by key hash — the
    deterministic replacement for per-group reservoir sampling (balanced
    eval subsets, per-domain spot-check samples). Rows ranked by
    (md5(key ‖ salt), key) inside each group; rank ≤ k survives. Stable
    under re-partitioning and corpus growth *within* untouched groups
    (adding rows to one group cannot change another group's sample).

    One shuffle on the group key; the per-group sort is O(|group| log k)
    via window rank — groups are the partition, so skew mitigation for a
    giant group is the same pre-aggregation story as any keyed window.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy(group).orderBy(h.asc(), F.col(key).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


ES_QUANT = 1_000_000_000  # nano-units for the quantized E-S key
_ES_POW48 = float(1 << 48)


def weighted_sample_k(
    df: DataFrame, group_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group — the
    Efraimidis-Spirakis one-pass reservoir (2006): draw u ~ U(0,1] per
    item, keep the k largest u^(1/w). Ranking by ln(u)/w is equivalent
    and avoids the pow; u is md5-derived ((h+1)/2^48 — an exact rational
    in (0,1], the minhash trick), so the "random" draw replays on any
    engine, retry, or partitioning. The key is floor-quantized to integer
    nano-units and ties break on ``doc_id``, so the selected set is
    engine-exact like every other sampler here.

    This is the right primitive when mixture construction must weight by
    quality/length instead of sampling uniformly (target_mixture's md5
    buckets draw uniformly WITHIN a domain; this draws proportionally to
    a per-item weight). One map for the key + one per-group top-k window
    — no global sort, no second pass over the data, weights never need
    normalizing (the classic reservoir requirement)."""
    from pyspark.sql import Window

    key = (
        "cast(floor(ln((cast(conv(substring(md5(cast(doc_id as string)), 1, 12), "
        f"16, 10) as double) + 1.0) / {_ES_POW48!r}) "
        f"/ cast({weight_col} as double) * {ES_QUANT}.0) as bigint)"
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("es_key_units"), F.col("doc_id"))
    return (
        df.withColumn("es_key_units", F.expr(key))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, "rank", "doc_id", weight_col, "es_key_units")
        .orderBy(group_col, "rank")
    )
