"""Custom stateful streaming operators, all on
``applyInPandasWithState`` (one implementation each): sessionize,
latest_per_key, and the operators behind t25/t25b
(running_user_stats_legacy), t34 (per_type_counts_legacy) and t35
(timer_closed_sessions_legacy).

Spark's built-in streaming ``session_window`` covers the common case;
sessionize is the EXTENSIBILITY surface for session logic the
built-in can't express (per-key dynamic gaps, session-scoped
aggregates, early emission rules). Semantics exactly mirror the batch
t03 query (queries/temporal.py): a new session starts when the gap
since the previous event is >= `gap`; session_end = last_ts + gap
(exclusive).

State design for an unbounded stream:
- State per key is ONE open session tuple (start, last, n, sum) —
  O(1) per key regardless of history length.
- Closed sessions emit as soon as the closing event arrives (append
  mode); the open session emits on processing-time timeout, so state
  for idle keys is evicted instead of accumulating forever.
- Shuffle is on the group key only; event payloads stream through
  Arrow batches.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)

US_PER_MIN = 60_000_000


def sessionize(
    events: DataFrame,
    gap_minutes: int = 10,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Stateful sessionization of a (streaming) events DataFrame with
    columns (user_id, ts). Emits closed sessions as their closing
    event arrives; each key's open session stays in state.

    ``timeout_ms`` enables processing-time timeouts that flush and
    evict idle keys' open sessions — use it on LIVE streams. Leave it
    None for bounded availableNow backfills: with timeouts armed, the
    microbatch loop keeps scheduling state-cleanup batches and an
    availableNow drain never terminates (observed on Spark 4.1)."""
    gap_us = gap_minutes * US_PER_MIN
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        closed: list[tuple[int, int, int, int]] = []

        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                closed.append((user_id, start, last + gap_us, n))
                state.remove()
            # consume the (empty) iterator per the API contract
            for _ in pdfs:
                pass
        else:
            ts_us: list[int] = []
            for pdf in pdfs:
                # unit-aware like latest_per_key (the Arrow bridge may
                # hand datetime64[ns] OR [us]; assuming ns and
                # dividing by 1000 silently collapses every gap 1000x
                # on a us bridge)
                ts_us.extend(
                    pdf["ts"]
                    .astype("datetime64[us]")
                    .astype("int64")
                    .tolist()
                )
            ts_us.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start = last = -1
                n = 0
            for t_us in ts_us:
                if n == 0:
                    start = last = t_us
                    n = 1
                elif t_us - last >= gap_us:  # >= : t03's boundary rule
                    closed.append((user_id, start, last + gap_us, n))
                    start = last = t_us
                    n = 1
                else:
                    last = t_us
                    n += 1
            if n > 0:
                state.update((start, last, n))
                if timeout_ms is not None:
                    state.setTimeoutDuration(timeout_ms)

        # yield only when sessions closed: an empty frame has object
        # dtypes that pandas' serializer-side concat warns about (and
        # does useless work on) — zero yields is the supported "no
        # output for this group" shape
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": u,
                        "session_start": pd.Timestamp(s, unit="us"),
                        "session_end": pd.Timestamp(e, unit="us"),
                        "n_events": k,
                    }
                    for u, s, e, k in closed
                ],
                columns=[
                    "user_id", "session_start", "session_end", "n_events",
                ],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


CDC_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("latest_value", DoubleType()),
        StructField("last_seen", TimestampType()),
        StructField("first_seen", TimestampType()),
        StructField("n_versions", LongType()),
    ]
)

CDC_STATE_SCHEMA = StructType(
    [
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("latest_value", DoubleType()),
        StructField("n", LongType()),
    ]
)


def latest_per_key(events: DataFrame) -> DataFrame:
    """Streaming changelog compaction — the streaming twin of the batch
    d07 query: per (user_id, event_type) key, maintain the NEWEST row
    (ties broken by event_id) plus version lineage (first_seen,
    n_versions), folding incrementally across micro-batches.

    State per key is ONE fixed-width tuple — O(live keys), independent
    of stream length (same bound as sessionize). Each batch a key
    appears in emits that key's current compacted row (append mode);
    the latest emission per key IS the compaction, which a downstream
    upsert sink (Delta MERGE, foreachBatch) applies idempotently.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        user_id, event_type = key
        if state.exists:
            first_us, last_us, last_id, latest_value, n = state.get
        else:
            first_us, last_us, last_id, latest_value, n = (
                None, None, None, None, 0,
            )
        for pdf in pdfs:
            # unit-aware: normalize whatever datetime64 resolution the
            # Arrow bridge handed us (ns or us) to micros, instead of
            # assuming ns and dividing by 1000
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
            ids = pdf["event_id"].astype("int64").tolist()
            # preserve nullness: batch d07 (and the shared oracle) keep
            # a NULL value as NULL, so track a None sentinel rather
            # than float-coercing null -> NaN. (The Arrow->pandas
            # bridge itself conflates NULL and NaN in float64 columns,
            # so a genuine NaN event value also maps to NULL here.)
            vals = [
                None if pd.isna(v) else float(v)
                for v in pdf["value"].tolist()
            ]
            for t_us, eid, val in zip(ts_us, ids, vals):
                n += 1
                if first_us is None or t_us < first_us:
                    first_us = t_us
                if last_us is None or (t_us, eid) > (last_us, last_id):
                    last_us, last_id, latest_value = t_us, eid, val
        if n == 0:
            return
        state.update((first_us, last_us, last_id, latest_value, n))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "event_type": event_type,
                    "latest_value": latest_value,
                    "last_seen": pd.Timestamp(last_us, unit="us"),
                    "first_seen": pd.Timestamp(first_us, unit="us"),
                    "n_versions": n,
                }
            ],
            columns=[
                "user_id", "event_type", "latest_value",
                "last_seen", "first_seen", "n_versions",
            ],
        )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        fn,
        outputStructType=CDC_SCHEMA,
        stateStructType=CDC_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_high", LongType()),
        # epoch micros as LONG — casting to timestamp happens in the
        # caller's plan (F.timestamp_micros), keeping pandas timestamp
        # conversion off every hash/compare path (VERDICT r8 item 1)
        StructField("last_us", LongType()),
    ]
)

STATS_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("nh", LongType()),
        StructField("last_us", LongType()),
    ]
)


def running_user_stats_legacy(events: DataFrame) -> DataFrame:
    """Per-user running aggregates (n_events, n_high, last_us) on
    ``applyInPandasWithState``, folded across micro-batches: one
    emission per batch a key appears in, each superseding the last
    (n_events strictly increases, so a downstream max-n_events upsert
    keeps the final row and recovers the batch per-user aggregate
    however the source splits into batches). O(1) state per key; the
    operator behind the registered t25/t25b queries.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:  # NoTimeout: unreachable, API contract
            for _ in pdfs:
                pass
            return
        n, nh, last_us = state.get if state.exists else (0, 0, None)
        for pdf in pdfs:
            n += len(pdf)
            # NaN > 5.0 is False, matching SQL's NULL handling in a
            # filtered count
            nh += int((pdf["value"] > 5.0).sum())
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            mx = int(ts_us.max())
            if last_us is None or mx > last_us:
                last_us = mx
        state.update((n, nh, last_us))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "n_high": [nh],
                "last_us": [last_us],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=STATS_SCHEMA,
        stateStructType=STATS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TYPE_COUNTS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n", LongType()),
    ]
)

TYPE_COUNTS_STATE_SCHEMA = StructType([StructField("n", LongType())])


def per_type_counts_legacy(events: DataFrame) -> DataFrame:
    """Per-user, per-event-type running counts on
    ``applyInPandasWithState``: the per-user type map is flattened into
    the group key — grouping on (user_id, event_type) with one count
    state tuple each. Each batch a key appears in re-emits its count,
    strictly increasing, so a max-n upsert per (user_id, event_type)
    recovers the batch GROUP BY however the backlog splits. O(1) state
    per key; the operator behind the registered t34 query."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        user_id, event_type = key
        if state.hasTimedOut:  # NoTimeout: unreachable, API contract
            for _ in pdfs:
                pass
            return
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "event_type": [event_type],
                "n": [n],
            }
        )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        fn,
        outputStructType=TYPE_COUNTS_SCHEMA,
        stateStructType=TYPE_COUNTS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TIMER_SESSIONS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

TIMER_SESSIONS_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def timer_closed_sessions_legacy(
    events: DataFrame, gap_minutes: int = 60
) -> DataFrame:
    """Event-time sessionization on ``applyInPandasWithState``: a
    session CLOSES on whichever comes first — the next event revealing
    the gap (split inline in the fold), or the event-time WATERMARK
    passing last_event + gap with no further events
    (``GroupStateTimeout.EventTimeTimeout`` + ``setTimeoutTimestamp``,
    which fires once the watermark strictly exceeds the armed
    timestamp). Unlike processing-time timeouts, idle-key closure is a
    deterministic function of the STREAM, not of wall clock. Each
    closed session emits exactly once; sessions whose gap hasn't
    elapsed by end-of-input stay open in state. O(1) state per key.

    The input stream must carry an event-time watermark
    (withWatermark before the groupBy); availableNow drains still
    close elapsed sessions because Spark runs a trailing no-data
    micro-batch after the watermark's final advance. The operator
    behind the registered t35 query."""
    gap_ms = gap_minutes * 60_000
    gap_us = gap_minutes * US_PER_MIN

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start_us": [start_us],
                    "session_last_us": [last_us],
                    "n_events": [n],
                }
            )
            return
        ts_all: list[int] = []
        for pdf in pdfs:
            ts_all.extend(
                pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
            )
        if not ts_all and not state.exists:
            return  # defensive: nothing to fold, nothing to arm
        ts_all.sort()
        start_us, last_us, n = (
            state.get if state.exists else (None, None, 0)
        )
        closed = []
        for t_us in ts_all:
            if last_us is not None and t_us - last_us >= gap_us:
                closed.append((start_us, last_us, n))
                start_us, n = t_us, 0
            start_us = t_us if start_us is None else start_us
            last_us = t_us if last_us is None else max(last_us, t_us)
            n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_last_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=TIMER_SESSIONS_SCHEMA,
        stateStructType=TIMER_SESSIONS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
