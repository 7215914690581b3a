"""Custom stateful streaming operators via applyInPandasWithState
(north-star: 'applyInPandasWithState for custom stateful operators').

Implemented: per-user watch-session tracking with richer semantics than
session_window gives — a session closes after a gap, and the state carries
(session_start, last_seen, n_events, distinct-video count) so the emitted
record is a full session summary. State is per-key and timeout-driven via
EventTimeTimeout: a key times out when the WATERMARK passes its
last_seen + gap, which works identically in continuous runs and
drain-everything (availableNow) runs. ProcessingTimeTimeout would busy-loop
micro-batches under availableNow waiting for wall-clock time — event-time
timeouts are the only deterministic choice here.

Scale notes: state lives in the state store keyed by user — the shuffle is
on user_id only; each micro-batch touches only keys present in the batch
plus expiring timeouts.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from yark_spark.session import ship_package

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("n_videos", LongType()),
        StructField("status", StringType()),  # 'open' | 'closed'
    ]
)

#: state tuple: (start_epoch_us, last_epoch_us, n_events, video_set_json)
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("videos", StringType()),
    ]
)

GAP_SECONDS = 30 * 60


def _session_tracker(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Emit one row per closed session; keep the open session in state."""
    import json

    (user_id,) = key
    if state.hasTimedOut:
        start_us, last_us, n_events, videos = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n_events],
                "n_videos": [len(json.loads(videos))],
                "status": ["closed"],
            }
        )
        return

    rows = pd.concat(list(pdfs)).sort_values("watched")
    if state.exists:
        start_us, last_us, n_events, videos = state.get
        vids = set(json.loads(videos))
    else:
        start_us, last_us, n_events, vids = None, None, 0, set()

    out = []
    for _, r in rows.iterrows():
        t_us = int(r["watched"].value // 1_000)
        if last_us is not None and t_us - last_us > GAP_SECONDS * 1_000_000:
            out.append((start_us, last_us, n_events, len(vids)))  # close previous
            start_us, n_events, vids = t_us, 0, set()
        if start_us is None:
            start_us = t_us
        last_us = t_us
        n_events += 1
        vids.add(r["video"])

    import json as _json

    state.update((start_us, last_us, n_events, _json.dumps(sorted(vids))))
    # event-time timeout: fire when the watermark passes last_seen + gap
    state.setTimeoutTimestamp(last_us // 1000 + GAP_SECONDS * 1000)

    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in out],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in out],
                "n_events": [n for _, _, n, _ in out],
                "n_videos": [v for _, _, _, v in out],
                "status": ["closed"] * len(out),
            }
        )


def track_sessions(events: DataFrame, watermark_delay: str = "10 minutes") -> DataFrame:
    """events(user_id long, video string, watched timestamp) stream →
    closed-session summaries. The watermark both bounds late data and
    drives session-timeout firing."""
    # the tracker is module-level (testable), so workers import it
    ship_package(events.sparkSession)
    return events.withWatermark("watched", watermark_delay).groupBy(
        "user_id"
    ).applyInPandasWithState(
        _session_tracker,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Arbitrary stateful streaming via transformWithStateInPandas (Spark 4)
# ---------------------------------------------------------------------------
#
# The successor API to applyInPandasWithState above: named state variables
# (ValueState/ListState/MapState) in the RocksDB state store, explicit
# per-key TIMERS instead of one implicit timeout, and schema-evolvable
# state. The sessionizer below is the same per-key mutable loop the
# reference runs in Python (`cmds/archive.py:331-348`) re-expressed as a
# keyed state machine: state = the open session, timer = its gap deadline.

TWS_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_TWS_STATE_SCHEMA = "start_us long, last_us long, n_events long"


def ensure_rocksdb_state_store(spark) -> None:
    """transformWithState requires the RocksDB state store provider (the
    default HDFS-backed store does not implement named state variables).
    Session-level because the provider is read at query START; harmless
    for every other workload — RocksDB is also the provider you want at
    100 TB state (incremental snapshots, no executor-heap residency)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


def _make_session_processor(gap_seconds: int):
    """Factory building the StatefulProcessor class instance."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    gap_us = gap_seconds * 1_000_000
    gap_ms = gap_seconds * 1000

    class _SessionProcessor(StatefulProcessor):
        """Per-user session machine. State: the OPEN session (start, last
        event, count). Timer: fires when the event-time watermark passes
        last_seen + gap → emit the session and clear. In-batch gaps close
        sessions inline; only one timer per key is live (re-registering
        deletes the previous deadline)."""

        def init(self, handle):
            self.handle = handle
            self.state = handle.getValueState("session", _TWS_STATE_SCHEMA)

        def _closed_frame(self, user_id, sessions):
            import pandas as _pd

            return _pd.DataFrame(
                {
                    "user_id": [user_id] * len(sessions),
                    "session_start": [
                        _pd.Timestamp(s, unit="us") for s, _, _ in sessions
                    ],
                    "session_end": [
                        _pd.Timestamp(e, unit="us") for _, e, _ in sessions
                    ],
                    "n_events": [n for _, _, n in sessions],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            (user_id,) = key
            pdf = _pd.concat(list(rows)).sort_values("watched")
            if self.state.exists():
                start_us, last_us, n_events = self.state.get()
                self.handle.deleteTimer(last_us // 1000 + gap_ms)
            else:
                start_us, last_us, n_events = None, None, 0
            closed = []
            for t in pdf["watched"]:
                t_us = int(_pd.Timestamp(t).value // 1_000)
                if last_us is not None and t_us - last_us > gap_us:
                    closed.append((start_us, last_us, n_events))
                    start_us, n_events = t_us, 0
                if start_us is None:
                    start_us = t_us
                last_us = t_us
                n_events += 1
            self.state.update((start_us, last_us, n_events))
            self.handle.registerTimer(last_us // 1000 + gap_ms)
            if closed:
                yield self._closed_frame(user_id, closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            (user_id,) = key
            if not self.state.exists():
                return
            start_us, last_us, n_events = self.state.get()
            # only the CURRENT deadline closes the session (a stale timer
            # that raced a re-registration must not evict live state)
            if expiredTimerInfo.getExpiryTimeInMs() < last_us // 1000 + gap_ms:
                return
            self.state.clear()
            yield self._closed_frame(user_id, [(start_us, last_us, n_events)])

        def close(self):
            pass

    return _SessionProcessor()


def track_sessions_tws(
    events: DataFrame,
    watermark_delay: str = "10 minutes",
    gap_seconds: int = GAP_SECONDS,
) -> DataFrame:
    """transformWithStateInPandas twin of ``track_sessions``:
    events(user_id long, video string, watched timestamp) stream →
    closed-session summaries (batch twin: the oracle-checked
    q_sessionize rollup — see tests/test_stateful.py).

    Scale: state shuffles on user_id only; RocksDB keeps per-key state
    off-heap with incremental checkpoints, so total state is bounded by
    OPEN sessions (closed keys are cleared), not event volume."""
    ensure_rocksdb_state_store(events.sparkSession)
    return (
        events.withWatermark("watched", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            _make_session_processor(gap_seconds),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )


TWS_DEDUP_OUTPUT_SCHEMA = "event_id long, user_id long, event_type string"
BURST_HORIZON_SECONDS = 5 * 60


def _make_burst_dedup_processor(horizon_seconds: int):
    """MapState showcase (vs the sessionizer's ValueState): per-user map
    event_type → last-seen microseconds. A row survives iff its type was
    never seen or the gap since that type's last event exceeds the
    horizon — the reference's in-loop 'skip already archived' check
    (`cmds/archive.py:126-129`) as keyed streaming state. An event-time
    timer prunes map entries whose re-emission window has passed
    (last + horizon < watermark): eviction bounds STATE, not semantics —
    an evicted type re-appearing is by definition past its horizon and
    correctly emits as a fresh first."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    horizon_us = horizon_seconds * 1_000_000
    horizon_ms = horizon_seconds * 1000

    class _BurstDedup(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            self.last = handle.getMapState(
                "last_seen", "event_type string", "last_us long"
            )
            self.deadline = handle.getValueState("deadline", "t_ms long")

        def _retime(self, candidate_ms):
            if self.deadline.exists():
                (old,) = self.deadline.get()
                if candidate_ms <= old:
                    return
                self.handle.deleteTimer(old)
            self.handle.registerTimer(candidate_ms)
            self.deadline.update((candidate_ms,))

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            (user_id,) = key
            pdf = _pd.concat(list(rows)).sort_values(["ts", "event_id"])
            keep_ids, keep_types = [], []
            newest = 0
            for _, r in pdf.iterrows():
                t_us = int(_pd.Timestamp(r["ts"]).value // 1_000)
                et = r["event_type"]
                prev = (
                    self.last.getValue((et,)) if self.last.containsKey((et,)) else None
                )
                if prev is None or t_us - prev[0] > horizon_us:
                    keep_ids.append(int(r["event_id"]))
                    keep_types.append(et)
                self.last.updateValue((et,), (t_us,))
                newest = max(newest, t_us)
            self._retime(newest // 1000 + horizon_ms)
            if keep_ids:
                yield _pd.DataFrame(
                    {
                        "event_id": keep_ids,
                        "user_id": [user_id] * len(keep_ids),
                        "event_type": keep_types,
                    }
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # prune types whose horizon has passed; drop all state when
            # the map empties (bounded state: only ACTIVE types survive)
            wm_us = timerValues.getCurrentWatermarkInMs() * 1000
            stale = [
                k
                for k, v in self.last.iterator()
                if v[0] + horizon_us < wm_us
            ]
            for k in stale:
                self.last.removeKey(k)
            remaining = list(self.last.keys())
            if not remaining:
                self.last.clear()
                self.deadline.clear()
            return
            yield  # pragma: no cover — marks this a generator

        def close(self):
            pass

    return _BurstDedup()


def dedup_bursts_tws(
    events: DataFrame,
    watermark_delay: str = "10 minutes",
    horizon_seconds: int = BURST_HORIZON_SECONDS,
) -> DataFrame:
    """transformWithStateInPandas burst dedup: keep only the FIRST event
    of any rapid-fire run (same user + type within the horizon). Batch
    twin: the ORACLE-CHECKED q_event_dedup_burst — every row's verdict
    depends only on strictly-earlier rows, so a drained stream over the
    same data must reproduce the batch row set exactly
    (tests/test_transform_with_state.py). State: per-user MapState
    (type → last_us), pruned by event-time timer once a type's
    re-emission window passes."""
    ensure_rocksdb_state_store(events.sparkSession)
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            _make_burst_dedup_processor(horizon_seconds),
            outputStructType=TWS_DEDUP_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )
