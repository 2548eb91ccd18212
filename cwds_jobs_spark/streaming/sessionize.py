"""Custom stateful streaming operator: conversation sessionization.

The reference has no streaming session concept, but its job-status
tracking (per-job "what have I applied up to" — SURVEY.md §2.9 T1/T6)
is the same shape of keyed, incrementally-updated state.  This module
generalizes that to a first-class stateful operator over the event
tail: group change events by ``conv_id`` and emit a session row
whenever a conversation goes quiet for ``gap`` (event-time timeout).

Spark-first realization: ``applyInPandasWithState`` — keyed state
(pandas-batched, Arrow transfer, no per-row Python), event-time
timeouts driven by the stream's watermark.  At 10^10 events state is
partitioned by conv_id across executors; per-key state is O(1)
(counters + bounds), so state size is bounded by live conversations,
not event volume.
"""

from __future__ import annotations

import datetime as dt
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("session_start", T.TimestampType(), True),
        T.StructField("session_end", T.TimestampType(), True),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("closed_by", T.StringType(), False),  # timeout | gap
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ms", T.LongType(), True),
        T.StructField("end_ms", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("max_turn", T.LongType(), True),
    ]
)


def _emit(conv_id, sessions, closed_by) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [conv_id] * len(sessions),
            "session_start": [pd.Timestamp(s[0], unit="ms") for s in sessions],
            "session_end": [pd.Timestamp(s[1], unit="ms") for s in sessions],
            "n_events": [s[2] for s in sessions],
            "n_turns": [s[3] + 1 for s in sessions],
            "closed_by": [closed_by] * len(sessions),
        }
    )


def _session_fn(gap_ms: int):
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            s = state.get
            state.remove()
            yield _emit(conv_id, [s], "timeout")
            return

        # gather batch events into per-gap segments (vectorized)
        frames = [p for p in pdfs if not p.empty]
        if not frames:
            return
        ev = pd.concat(frames, ignore_index=True).sort_values("op_ts")
        ms = ev["op_ts"].astype("int64") // 1_000_000
        seg_id = (ms.diff() > gap_ms).cumsum()
        segs = [
            (
                int(g.iloc[0]),
                int(g.iloc[-1]),
                len(g),
                int(ev.loc[g.index, "turn_idx"].max()),
            )
            for _, g in ms.groupby(seg_id)
        ]

        open_sess = state.get if state.exists else None
        closed: list[tuple] = []
        for seg in segs:
            # merge only when the segment is within gap of the open
            # session on SOME end: an out-of-order (late but within
            # watermark) segment ending more than gap BEFORE the open
            # session starts is its own earlier session, matching the
            # sessionize_batch oracle semantics
            if open_sess is None:
                open_sess = seg
            elif seg[0] - open_sess[1] <= gap_ms and open_sess[0] - seg[1] <= gap_ms:
                open_sess = (
                    min(open_sess[0], seg[0]),
                    max(open_sess[1], seg[1]),
                    open_sess[2] + seg[2],
                    max(open_sess[3], seg[3]),
                )
            elif seg[1] < open_sess[0]:
                # entirely earlier and beyond gap: closed on arrival,
                # the (later) open session stays open
                closed.append(seg)
            else:
                closed.append(open_sess)
                open_sess = seg
        state.update(open_sess)
        # the still-open session closes when the watermark passes
        # end + gap (event-time timeout)
        state.setTimeoutTimestamp(open_sess[1] + gap_ms)
        if closed:
            yield _emit(conv_id, closed, "gap")

    return fn


def sessionize_stream(
    events: DataFrame,
    gap: dt.timedelta = dt.timedelta(minutes=30),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming DataFrame of closed sessions (event-time gap close).

    ``events`` must be a streaming DataFrame with conv_id/turn_idx/
    op_ts columns (the change tail).  Late events within ``watermark``
    still extend their session; beyond it the session has already
    closed — the documented late-data contract.

    **End-of-drain contract**: only CLOSED sessions are emitted
    (``closed_by`` ∈ {gap, timeout}).  An ``availableNow`` drain that
    ends while a conversation is still within ``gap`` of its last
    event leaves that session OPEN in the keyed state store — it is
    not lost: the next drain from the same checkpoint resumes it and
    closes it by gap or timeout.  This is deliberate (an "open" row
    emitted at drain end would be retracted-by-duplicate when the
    session later extends, breaking append mode).  For a
    point-in-time view of the open tail — e.g. a final report after
    the last drain — use :func:`open_sessions` over the same event
    directory.
    """
    return (
        events.withWatermark("op_ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _session_fn(int(gap.total_seconds() * 1000)),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap: dt.timedelta = dt.timedelta(minutes=30)) -> DataFrame:
    """Batch oracle for the same semantics: split each conversation at
    op_ts gaps > ``gap`` (classic session window via lag + cumsum).
    Used by tests and usable directly for backfills.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("op_ts", "lsn")
    # millisecond arithmetic, matching the streaming path's gap compare
    # (_session_fn works in unix millis): unix_timestamp() truncates to
    # whole seconds, so a sub-second gap boundary would split here yet
    # merge in the stream, breaking the `drain ∪ open_sessions` union
    # contract documented on sessionize_stream
    gap_ms = int(gap.total_seconds() * 1000)
    with_id = (
        events.withColumn("_prev", F.lag("op_ts").over(w))
        .withColumn(
            "_new",
            (
                F.col("_prev").isNull()
                | (F.unix_millis("op_ts") - F.unix_millis("_prev") > gap_ms)
            ).cast("long"),
        )
        .withColumn("_sid", F.sum("_new").over(w))
    )
    return (
        with_id.groupBy("conv_id", "_sid")
        .agg(
            F.min("op_ts").alias("session_start"),
            F.max("op_ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("turn_idx") + 1).cast("long").alias("n_turns"),
        )
        .drop("_sid")
    )


def open_sessions(
    events: DataFrame,
    gap: dt.timedelta = dt.timedelta(minutes=30),
    as_of: "dt.datetime | None" = None,
) -> DataFrame:
    """Sessions still OPEN as of ``as_of`` (default: the tail's max
    op_ts) — the drain-end flush companion to :func:`sessionize_stream`.

    A streaming drain emits only closed sessions (see the end-of-drain
    contract there); this batch view returns the complement — sessions
    whose last event is within ``gap`` of ``as_of`` — in
    ``SESSION_SCHEMA`` shape with ``closed_by='open'``, so
    ``drain output ∪ open_sessions`` is the complete session set at
    any point in time.
    """
    if as_of is None:
        as_of = events.agg(F.max("op_ts")).collect()[0][0]
    if as_of is None:
        return events.sparkSession.createDataFrame([], SESSION_SCHEMA)
    cutoff = as_of - gap
    return (
        sessionize_batch(events, gap)
        .filter(F.col("session_end") >= F.lit(cutoff))
        .withColumn("closed_by", F.lit("open"))
        .select([f.name for f in SESSION_SCHEMA.fields])
    )
