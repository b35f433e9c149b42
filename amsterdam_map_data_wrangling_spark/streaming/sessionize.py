"""Streaming gap-sessionization via ``applyInPandasWithState``: the
stateful twin of ``plans/queries.py:gap_sessionization`` (lag+cumsum
batch idiom).

Per-user state is TWO integers — the last event's microsecond timestamp
and the session count so far — nothing else: no event buffer, no session
list, so state is linear in users and RocksDB-spillable at a billion
keys. Within a batch the handler sorts the user's rows by (ts, event_id)
(the same total order the batch twin's windows pin) and counts
gap > 30 min breaks vectorized; across batches the carried last_us makes
the first row of the next batch compare against the true previous event.
The stream equals the batch answer whenever each user's events arrive in
event-time order across micro-batches (file replay in tests; per-key
Kafka ordering in production) — for disordered sources, bound the
disorder with a watermark upstream.

Citing the reference's streaming north star (SURVEY §2.8): this is the
operator class the reference cannot express at all — its engine is a
single-pass batch script.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

GAP_US = 1_800_000_000  # 30 min, matches the batch twin

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _update_sessions(
    key: tuple[Any, ...],
    pdfs: Iterable["pd.DataFrame"],
    state: GroupState,
) -> Iterable["pd.DataFrame"]:
    import numpy as np
    import pandas as pd

    # state expiry (the 100 TB state-bounding lever): under
    # ProcessingTimeTimeout a user idle past the configured horizon gets
    # a final emission and the state row is DROPPED — per-user state is
    # 2 ints, but a billion abandoned keys still add up; expiry keeps
    # live state proportional to ACTIVE users, not ever-seen users.
    if getattr(state, "hasTimedOut", False):
        last_us, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )
        return

    last_us, n_sessions, n_events = (
        state.get if state.exists else (None, 0, 0)
    )
    # Concatenate the group's ENTIRE micro-batch before sorting: Arrow
    # delivers a group's rows as multiple chunks in arbitrary shuffle
    # order, so a per-chunk sort would count gap breaks against the
    # wrong predecessor whenever a user's rows span chunks out of time
    # order (r6 ADVICE) — one concat + one sort restores the (ts,
    # event_id) total order the batch twin's windows pin.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        full = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        s = full.sort_values(["us", "event_id"])["us"].to_numpy(
            dtype=np.int64
        )
        # vectorized break count: gap to the in-batch predecessor, with
        # the carried last_us standing in for the first row's predecessor
        if last_us is None:
            breaks = int(np.count_nonzero((s[1:] - s[:-1]) > GAP_US)) + 1
        else:
            prev = np.empty_like(s)
            prev[1:] = s[:-1]
            prev[0] = last_us
            breaks = int(np.count_nonzero((s - prev) > GAP_US))
        n_sessions += breaks
        n_events += len(s)
        last_us = int(s[-1])
    state.update((last_us, n_sessions, n_events))
    if getattr(state, "getCurrentProcessingTimeMs", None) is not None:
        try:
            # refresh the idle horizon on every batch with data; only
            # meaningful when the query runs with ProcessingTimeTimeout
            state.setTimeoutDuration(GAP_US // 1000)
        except Exception:
            pass  # NoTimeout mode: setting a duration is an error
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_sessions": [n_sessions],
            "n_events": [n_events],
        }
    )


def streaming_gap_sessions(
    events: DataFrame, expire_idle: bool = False
) -> DataFrame:
    """Per-user session counts as a streaming query (update mode): one
    row per user per micro-batch with the running totals. ``events``
    needs (user_id, ts, event_id); time is converted to exact integer
    microseconds JVM-side so the handler never touches timestamps.
    ``expire_idle=True`` turns on processing-time state expiry: users
    idle past the session gap emit a final row and their state drops
    (live state stays proportional to active users)."""
    from pyspark.sql import functions as F

    prepped = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _update_sessions,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if expire_idle
            else GroupStateTimeout.NoTimeout
        ),
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas twin (Spark 4 API)
# ---------------------------------------------------------------------------


def _make_session_processor_class():
    """Build the StatefulProcessor subclass lazily — importing
    ``stateful_processor`` pulls streaming-proto modules that want
    protobuf in some distributions, so the import must not run at module
    load (same gating as streaming/stateful.py)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _GapSessions(StatefulProcessor):
        """tws twin of :func:`_update_sessions`: identical session
        algebra, state held in a typed ValueState instead of the legacy
        GroupState tuple."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("sess", SESSION_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as pd

            last_us, n_sessions, n_events = (
                self._s.get() if self._s.exists() else (None, 0, 0)
            )
            # concat-then-sort across ALL Arrow chunks, as in
            # _update_sessions (r6 ADVICE: chunk order is arbitrary)
            chunks = [pdf for pdf in rows if len(pdf)]
            if chunks:
                full = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
                s = full.sort_values(["us", "event_id"])["us"].to_numpy(
                    dtype=np.int64
                )
                if last_us is None:
                    breaks = (
                        int(np.count_nonzero((s[1:] - s[:-1]) > GAP_US)) + 1
                    )
                else:
                    prev = np.empty_like(s)
                    prev[1:] = s[:-1]
                    prev[0] = last_us
                    breaks = int(np.count_nonzero((s - prev) > GAP_US))
                n_sessions += breaks
                n_events += len(s)
                last_us = int(s[-1])
            self._s.update((last_us, n_sessions, n_events))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_sessions": [n_sessions],
                    "n_events": [n_events],
                }
            )

        def close(self) -> None:
            pass

    return _GapSessions


def GapSessionsProcessor():
    """Instantiate the transformWithState sessionizer."""
    return _make_session_processor_class()()

