"""Custom stateful streaming operator: session windows via
``applyInPandasWithState``.

The batch pipeline computes sessions with lag + cumulative-sum windows
(__spark_entry__.q_sessionization); that needs the full history per key.
On an unbounded stream the same semantics — a session closes after a
``gap_seconds`` silence per user — become CUSTOM STATE: per user we keep
(last event time, open session index, running aggregates) between
microbatches, continue or close sessions as batches arrive, and emit an
update row per touched session.

State is bounded: one small tuple per active user; closed sessions leave
state immediately and idle users are evicted by the processing-time
timeout.  The operator is deterministic for a drained backlog
(availableNow), which is how tests equate it with the batch
sessionization of the same events (tests/test_streaming.py).

Ordering contract: events are sorted WITHIN a microbatch; equality with
batch sessionization holds when each user's events arrive in event-time
order across batches.  Cross-batch stragglers (ts below the user's
carried last_ts) fold into the OPEN session without regressing last_ts
— never into a closed one; buffering until an event-time watermark
(what windowed built-ins do) is the alternative when late re-ordering
matters more than latency.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

# session_start (epoch of the session's first event) is the globally
# unique session key per user: session_idx restarts at 0 when an idle
# user's state is evicted by timeout, so (user_id, session_idx) alone
# would collide across evictions in an upsert sink.
OUTPUT_SCHEMA = (
    "user_id long, session_idx int, session_start double, "
    "n_events long, session_value double, open boolean"
)
STATE_SCHEMA = (
    "last_ts double, session_idx int, session_start double, "
    "n_events long, session_value double"
)


def _fold_sessions(user_id, batch: pd.DataFrame, carried, gap_seconds: int):
    """One microbatch of the session fold for one user.

    ``batch`` needs columns (ts_epoch, value); ``carried`` is the prior
    state tuple or None.  Returns (output_rows, new_state_tuple).
    """
    batch = batch.sort_values("ts_epoch")
    if carried is not None:
        last_ts, idx, start, n, val = carried
    else:
        last_ts, idx, start, n, val = None, -1, 0.0, 0, 0.0
    out = []
    for ts, value in zip(batch["ts_epoch"], batch["value"]):
        if last_ts is None or ts - last_ts > gap_seconds:
            if idx >= 0 and n > 0:
                out.append((user_id, idx, start, n, val, False))  # close previous
            idx, n, val = idx + 1, 0, 0.0
            start = float(ts)
        n += 1
        val += float(value)
        # LATE events (ts < last_ts, i.e. out-of-order ACROSS batches)
        # fold into the open session without regressing last_ts — a
        # regressed watermark would glue genuinely-separate later
        # sessions together.  Closed sessions are never reopened
        # (the no-event-time-buffer tradeoff, documented above).
        last_ts = max(last_ts, float(ts)) if last_ts is not None else float(ts)
    out.append((user_id, idx, start, n, val, True))  # still-open session update
    return out, (last_ts, idx, start, n, val)


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    timeout_ms: int | None = None,
) -> DataFrame:
    """events(user_id, ts timestamp, value double) →
    per-session update rows (open=False when the session closed).

    Each microbatch: sort the user's new events, close the open session
    when a gap > gap_seconds appears (within the batch or against the
    carried state), update running aggregates, persist the still-open
    session.  ``timeout_ms`` evicts idle users via processing-time
    timeout, emitting their final session as closed.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                last_ts, idx, start, n, val = state.get
                state.remove()
                yield pd.DataFrame(
                    [
                        {
                            "user_id": user_id,
                            "session_idx": idx,
                            "session_start": start,
                            "n_events": n,
                            "session_value": val,
                            "open": False,
                        }
                    ]
                )
            return

        batch = pd.concat(list(pdfs), ignore_index=True)
        carried = state.get if state.exists else None
        out, new_state = _fold_sessions(user_id, batch, carried, gap_seconds)
        state.update(new_state)
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_idx", "session_start", "n_events", "session_value", "open"],
        )

    prepared = events.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("double").alias("ts_epoch"),
        "value",
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "update", timeout
    )
