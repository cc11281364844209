"""Sessionization + pivot — the remaining classic analytics shapes.

Sessionization (gap-based session ids) is the canonical event-stream
operator: a new session starts when the per-user gap exceeds the timeout.
Batch formulation = flag + running sum over a per-key window (one shuffle);
the streaming twin is ``groupBy(session_window(ts, gap))`` in Structured
Streaming. All outputs are integer micros/counts — engine-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from network_iq_spark.registry import register
from network_iq_spark.sources import load_table

SESSION_GAP_MIN = 30


@register(
    "sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                  > {SESSION_GAP_MIN} * 60 * 1000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0
             AS duration_sec
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min timeout): flag session starts via
    lag, running-sum them into session ids, aggregate per session."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000),
        1,
    ).otherwise(0)
    numbered = ev.select(
        "user_id",
        "ts",
        "value",
        F.sum(new_session).over(run).cast("bigint").alias("session_seq"),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1000000.0)
        ).alias("duration_sec"),
    )


_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "hourly_type_pivot",
    oracle="""
    SELECT hour(ts) AS hour,
      {cols}
    FROM events GROUP BY hour(ts) ORDER BY hour
    """.format(
        cols=",\n      ".join(
            f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
            for t in _TYPES
        )
    ),
)
def q_hourly_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide crosstab — survey §2.7 lists it absent-but-free): event
    counts per hour × type. Explicit pivot values keep the schema static
    (no extra distinct-scan job, required for a lazy plan at scale)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour", F.hour("ts"))
        .groupBy("hour")
        .pivot("event_type", list(_TYPES))
        .count()
        .na.fill(0, subset=list(_TYPES))
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# Funnel & cohort retention — event analytics the reference's dashboard
# family implies but never ships. Both are single-scan with one shuffle on
# user_id; the funnel's "step B strictly after step A" semantics use a
# cumulative window flag (ROWS ... 1 PRECEDING), written identically in both
# engines so tie order at equal timestamps is shared, not assumed.
# ---------------------------------------------------------------------------


@register(
    "funnel_steps",
    oracle="""
    WITH f1 AS (
      SELECT user_id, event_type, ts, event_id,
        COALESCE(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS seen_view
      FROM events
    ),
    f2 AS (
      SELECT user_id, event_type, ts, event_id,
        CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 ELSE 0 END
          AS is_step2
      FROM f1
    ),
    f3 AS (
      SELECT user_id, event_type, is_step2,
        COALESCE(MAX(is_step2)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS seen_step2
      FROM f2
    )
    SELECT
      COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
        AS n_view,
      COUNT(DISTINCT CASE WHEN is_step2 = 1 THEN user_id END)
        AS n_view_click,
      COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND seen_step2 = 1
                          THEN user_id END)
        AS n_full_funnel
    FROM f3
    """,
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel: users whose first qualifying events
    occur in strict (ts, event_id) order. Cumulative max-flags over a
    1-PRECEDING frame encode "a qualifying earlier event exists" — one scan,
    one user_id exchange shared by both window passes, no self-joins (the
    naive 3-scan conditional-min formulation reads the fact table 3×)."""
    ev = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    f1 = ev.withColumn(
        "seen_view",
        F.coalesce(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(w_prev),
            F.lit(0),
        ),
    )
    f2 = f1.withColumn(
        "is_step2",
        F.when(
            (F.col("event_type") == "click") & (F.col("seen_view") == 1), 1
        ).otherwise(0),
    )
    f3 = f2.withColumn(
        "seen_step2", F.coalesce(F.max("is_step2").over(w_prev), F.lit(0))
    )
    # Per-user max flags, then a count of the users that hold each flag:
    # the same numbers as COUNT(DISTINCT CASE ... THEN user_id END), and
    # like it a NULL user_id counts nowhere. The aggregate reuses the
    # window's user_id exchange. Three countDistincts would plan an Expand
    # whose group order, and so whose generated code, varies between builds.
    per_user = f3.groupBy("user_id").agg(
        F.max(F.col("event_type") == "view").alias("view"),
        F.max(F.col("is_step2") == 1).alias("view_click"),
        F.max(
            (F.col("event_type") == "purchase") & (F.col("seen_step2") == 1)
        ).alias("full_funnel"),
    )
    return per_user.agg(
        *(
            F.count(F.when(F.col(flag), F.col("user_id"))).alias(f"n_{flag}")
            for flag in ("view", "view_click", "full_funnel")
        )
    )


@register(
    "cohort_retention",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    )
    SELECT CAST(date_trunc('week', c.first_day) AS DATE) AS cohort_week,
           CAST(date_diff('day', c.first_day, CAST(e.ts AS DATE)) // 7 AS INT)
             AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN cohorts c ON e.user_id = c.user_id
    GROUP BY 1, 2 ORDER BY cohort_week, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the ISO week of their
    first event; n_users active at each whole-week offset. Two aggregations
    sharing the user_id partitioning (cohort derivation + the retention
    count); the cohort side is |users| rows — shuffle-joined, broadcastable
    when the user dimension fits."""
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    return (
        ev.join(cohorts, "user_id")
        .select(
            F.date_trunc("week", F.col("first_day")).cast("date").alias("cohort_week"),
            F.expr("CAST(datediff(CAST(ts AS DATE), first_day) div 7 AS INT)").alias(
                "week_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "session_window_stats",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                  > {SESSION_GAP_MIN} * 60 * 1000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions via Spark's NATIVE ``session_window`` grouping — the
    built-in that makes the batch and streaming sessionization one plan
    (the custom lag/cumsum `sessionize` is kept alongside as the
    SQL-portable formulation; both must agree). session_window's window
    end is last-event + gap, which the oracle replays with an INTERVAL
    add. One shuffle on (user_id, merged-window)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "event_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    outs AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_out
             FROM pairs GROUP BY prev_type)
    SELECT p.prev_type, p.next_type, p.n,
           CAST(p.n AS DOUBLE) / o.n_out AS p_transition
    FROM pairs p JOIN outs o USING (prev_type)
    ORDER BY p.prev_type, p.next_type
    """,
)
def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition estimates between event types: per-user
    ordered LAG pairs → grouped counts → per-source normalization. The
    transition probability is one exact integer division (count/out-count)
    so the matrix replays bit-for-bit. One fact shuffle (the per-user
    window); the pair/normalize aggregates run on the 5×5 grain. The
    behavioral-model twin of funnel_steps — funnels fix the path, this
    measures where users actually go next."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    pairs = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    outs = pairs.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("n_out")
    )
    return (
        pairs.join(F.broadcast(outs), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            (F.col("n").cast("double") / F.col("n_out")).alias("p_transition"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "scd2_user_type_history",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE user_id % 10 = 0
    ),
    marked AS (
      SELECT *, LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM src
    ),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM marked
      WHERE prev_type IS NULL OR event_type != prev_type
    )
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) AS valid_to,
           (LEAD(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) IS NULL) AS is_current
    FROM changes
    ORDER BY user_id, valid_from, event_id
    """,
)
def q_scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build from an event log: collapse
    each user's event stream into [valid_from, valid_to) intervals of
    their event_type attribute — keep only CHANGE rows (lag compare),
    then close each interval with the next change's start (lead) and
    flag the open one. The standard way a warehouse derives a versioned
    dimension from a mutation stream; two windows over the same per-user
    partitioning (one shuffle — the second window reuses the first's
    partition+sort), deterministic tiebreak on (ts, event_id). At 100 TB
    the change-row reduction happens BEFORE the second window, so the
    interval pass runs on the (usually tiny) change grain, not the event
    stream."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    w_ev = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w_ev))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select(
            "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
        )
    )
    # tiebreak on event_id: two change rows at one timestamp would make a
    # ts-only lead() engine-dependent
    w_ch = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return (
        changes.withColumn("valid_to", F.lead("valid_from").over(w_ch))
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "valid_from", "event_id")
        .drop("event_id")
    )
