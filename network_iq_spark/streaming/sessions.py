"""Streaming sessionization — the stateful-timeout tier.

The batch twin is the ``sessionize`` registry query (queries/sessions.py):
events split into sessions at >30-minute gaps. In streaming, a session is
*open* until either (a) a later event of the same key arrives past the gap
(close-on-gap, emitted immediately) or (b) the event-time watermark passes
``last_event + gap`` with no new data (close-on-timeout) — the part plain
windowed aggregation cannot express, hence ``applyInPandasWithState`` with
``GroupStateTimeout.EventTimeTimeout``.

State per key is one open session tuple (start_us, last_us, n, value_sum_e4)
— O(#active keys), bounded by the watermark: a key silent past its timeout
is emitted and removed. Value sums are integer micro-units (the repo's
determinism contract) so a session's sum is identical however many
micro-batches fed it.

At 100 TB-scale ingest the grouping key (user_id) hash-partitions state
across executors; skewed keys cost one hot partition of *state*, not of
data interchange, because each micro-batch only shuffles its own rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

US_PER_MIN = 60_000_000
GAP_US = 30 * US_PER_MIN
VAL_SCALE = 10_000


def streaming_sessionize(stream: DataFrame) -> DataFrame:
    """Emit CLOSED sessions of (user_id, ts, value) events split at
    >30-minute gaps under a 2 h watermark: (user_id, session_start,
    session_end, n_events, value_sum). Append-mode stream — a session row
    is final when emitted.

    Output order within a batch is nondeterministic (it's a stream);
    identity of the emitted sessions matches the batch gap-split exactly
    (tests assert set equality against a pure-Python re-derivation),
    including events arriving out of order ACROSS micro-batches as long as
    they land within [session_start − gap, session_end + gap] of the open
    session. The one carve-out: a within-watermark straggler older than
    that range belongs to an already-emitted session and is issued as its
    own closed singleton (append mode cannot retract; see inline comment).
    """
    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, value_sum double"
    )
    state_schema = "start_us bigint, last_us bigint, n bigint, vsum_e4 bigint"

    def _row(key_val: int, start_us: int, last_us: int, n: int, vsum_e4: int):
        return {
            "user_id": key_val,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(last_us, unit="us"),
            "n_events": n,
            "value_sum": vsum_e4 / VAL_SCALE,
        }

    def update(
        key_tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (key_val,) = key_tuple
        if state.hasTimedOut:
            start_us, last_us, n, vsum = state.get
            state.remove()
            yield pd.DataFrame([_row(key_val, start_us, last_us, n, vsum)])
            return

        open_sess = state.get if state.exists else None
        closed: list[dict] = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("ts")
            ts_us = (
                pd.to_datetime(pdf["ts"]).astype("int64") // 1000
            ).to_numpy()
            vals_e4 = (
                (pdf["value"].to_numpy() * VAL_SCALE).round().astype("int64")
            )
            for us, v in zip(ts_us, vals_e4):
                us = int(us)
                if open_sess is None:
                    open_sess = (us, us, 1, int(v))
                    continue
                s, last, n, vs = open_sess
                if us - last > GAP_US:
                    closed.append(_row(key_val, *open_sess))
                    open_sess = (us, us, 1, int(v))
                elif us < s - GAP_US:
                    # LATE event from before the open session's reach (more
                    # than a gap before session_start): in batch order it
                    # belongs to an earlier session, which under the
                    # watermark contract is already final — append mode
                    # cannot retract it. Documented carve-out: emit the
                    # straggler as its own closed singleton session rather
                    # than corrupt the open session's span. Exact batch
                    # parity for THIS case needs buffered state.
                    closed.append(_row(key_val, us, us, 1, int(v)))
                else:
                    # merge, late- and in-order alike: a late event within
                    # [start - gap, last + gap] chains into the SAME batch
                    # session, so extend the span with min/max — overwriting
                    # last with an earlier ts would shrink session_end and
                    # falsely split the next on-time event
                    open_sess = (min(s, us), max(last, us), n + 1, vs + int(v))

        if open_sess is not None:
            state.update(open_sess)
            # Event-time timeout must sit above the current watermark or
            # Spark rejects it; clamping only matters for sessions already
            # older than the watermark — those close at the next batch.
            timeout_ms = max(
                (open_sess[1] + GAP_US) // 1000,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(timeout_ms)
        if closed:
            yield pd.DataFrame(closed)

    return (
        stream.withWatermark("ts", "2 hours")
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
