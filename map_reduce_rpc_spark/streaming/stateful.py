"""Custom stateful sessionization via ``applyInPandasWithState``.

The canonical production pattern for operators Spark's built-in
windows can't express: per-key state + event-time timeouts.

- State per user: the one *open* session (start, last event, count,
  value cents). O(1) per key — never an unbounded event buffer.
- Closed sessions emit immediately within the batch that closes them
  (append-final: a session closed by a >gap successor can never
  reopen).
- The open session emits when its event-time timeout fires — i.e.
  when the watermark passes ``last_event + gap``, at which point no
  earlier event can still arrive, so the emission is final.

At 100 TB this shuffles once per batch on user_id; state lives in the
state store (RocksDB provider on a real cluster), checkpointed for
exactly-once restart.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_US = 30 * 60 * 1_000_000

OUTPUT_DDL = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_events long, value_cents long"
)
STATE_DDL = "start_us long, last_us long, n_events long, value_cents long"

_COLS = ["user_id", "session_start_us", "session_end_us", "n_events", "value_cents"]


def _sessionize_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    out: list[tuple] = []

    open_sess = list(state.get) if state.exists else None

    if state.hasTimedOut:
        # Watermark passed last_us + gap: the open session is final.
        if open_sess is not None:
            out.append((user_id, open_sess[0], open_sess[1], open_sess[2], open_sess[3]))
        state.remove()
    else:
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts_us", "event_id"], kind="stable"
        )
        for ts_us, cents in zip(
            rows["ts_us"].astype("int64"),
            (rows["value"] * 100).round().astype("int64"),
        ):
            ts_us = int(ts_us)
            if open_sess is None:
                open_sess = [ts_us, ts_us, 1, int(cents)]
            elif ts_us - open_sess[1] >= GAP_US:
                out.append((user_id, open_sess[0], open_sess[1], open_sess[2], open_sess[3]))
                open_sess = [ts_us, ts_us, 1, int(cents)]
            else:
                open_sess[1] = ts_us
                open_sess[2] += 1
                open_sess[3] += int(cents)
        state.update(tuple(open_sess))
        timeout_ms = open_sess[1] // 1000 + GAP_US // 1000
        watermark_ms = state.getCurrentWatermarkMs()
        if timeout_ms <= watermark_ms:
            # Session already expired relative to the watermark (late
            # group): close it now, a timeout in the past cannot be set.
            out.append((user_id, open_sess[0], open_sess[1], open_sess[2], open_sess[3]))
            state.remove()
        else:
            state.setTimeoutTimestamp(timeout_ms)

    yield pd.DataFrame(out, columns=_COLS)


def sessionize(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful gap-sessionizer: (user_id, start, end, n, cents) rows,
    one per completed session, in append mode."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=OUTPUT_DDL,
            stateStructType=STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

