"""Custom stateful streaming operators on ``applyInPandasWithState``.

Spark's built-in streaming aggregates cover the common cases; these
operators are the EXTENSIBILITY surface for per-key logic the
built-ins can't express (session rules, changelog compaction, running
folds, bounded recency buffers). They share one contract:

- State per key is one fixed-width row — O(1) per key (O(keep) for
  recent_values_digest's bounded arrays), however long the stream.
- Output mode is append: a call emits rows for the key it folded, in
  the micro-batch that produced them. Operators whose emissions
  supersede earlier ones carry a strictly increasing column, so a
  max-by upsert downstream recovers the final value under any
  micro-batch split.
- Timeouts are off (``NoTimeout``) except in timer_closed_sessions,
  whose ``EventTimeTimeout`` follows the watermark, not wall clock, so
  a replayed stream closes the same sessions. Every other fn still
  drains ``hasTimedOut`` calls, per the API contract.
- The shuffle is on the group key only; event payloads stream through
  Arrow batches.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

US_PER_MIN = 60_000_000


def _ts_us(pdf: "pd.DataFrame") -> "pd.Series":
    """The ``ts`` column as epoch micros. Unit-aware: the Arrow bridge
    may hand datetime64[ns] OR [us], and assuming ns and dividing by
    1000 silently shrinks every gap 1000x on a us bridge."""
    return pdf["ts"].astype("datetime64[us]").astype("int64")


def sessionize(events: DataFrame, gap_minutes: int = 10) -> DataFrame:
    """Stateful sessionization of a (streaming) events DataFrame with
    columns (user_id, ts), mirroring the batch t03 query: a new session
    starts when the gap since the previous event is >= `gap`, and
    session_end = last_ts + gap (exclusive). Emits each closed session
    as its closing event arrives; each key's open session stays in
    state as (start, last, n)."""
    gap_us = gap_minutes * US_PER_MIN

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
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(_ts_us(pdf).tolist())
        ts_us.sort()
        start, last, n = state.get if state.exists else (-1, -1, 0)
        closed: list[tuple[int, int, int, int]] = []
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
        outputStructType="user_id long, session_start timestamp, "
        "session_end timestamp, n_events long",
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_per_key(events: DataFrame) -> DataFrame:
    """Streaming changelog compaction — the streaming twin of the batch
    d07 query: per (user_id, event_type) key, maintain the NEWEST row
    (ties broken by event_id) plus version lineage (first_seen,
    n_versions), folding incrementally across micro-batches.

    Each batch a key appears in emits that key's current compacted row;
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
            ts_us = _ts_us(pdf).tolist()
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
        outputStructType="user_id long, event_type string, "
        "latest_value double, last_seen timestamp, first_seen timestamp, "
        "n_versions long",
        stateStructType="first_us long, last_us long, last_event_id long, "
        "latest_value double, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, n_high, last_us) over (user_id, ts,
    value), folded across micro-batches: one emission per batch a key
    appears in, each superseding the last. n_events strictly
    increases, so a max-n_events upsert yields exactly the batch
    per-user aggregate. last_us is epoch micros as LONG: the caller
    casts it in-plan (F.timestamp_micros), so no timestamp on a
    compare or hash path is produced by pandas→Arrow conversion in
    the worker.
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
            mx = int(_ts_us(pdf).max())
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
        outputStructType="user_id long, n_events long, n_high long, "
        "last_us long",
        stateStructType="n long, nh long, last_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def per_type_counts(events: DataFrame) -> DataFrame:
    """Per-(user_id, event_type) running counts over (user_id,
    event_type): one count per group key, re-emitted each batch the key
    appears in. Counts strictly increase, so a max-n upsert per key
    yields exactly the batch GROUP BY however the backlog splits."""

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
        outputStructType="user_id long, event_type string, n long",
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def recent_values_digest(events: DataFrame, keep: int = 5) -> DataFrame:
    """Per-user bounded recency buffer over (user_id, ts, value): the
    state shape of "last-N events per entity" features (recent
    purchases, trailing error codes).

    State per key is (n_seen, ts_us[], cents[]) holding the `keep`
    LARGEST (ts_us, cents) pairs seen — a bounded top-N, not a
    grow-forever buffer: each batch appends, re-truncates to `keep`
    and rewrites the arrays, so state is O(keep) per key. Emission
    per batch: (user_id, n_seen, n_buffered, sum_recent_cents).
    Values are scaled to integer cents, so the sum is identical under
    any micro-batch split (a float fold would not be). Neither the
    buffer size nor its sum is monotonic once the cap binds, so
    n_seen (total events folded) is the strictly increasing column a
    max-by upsert orders a key's emissions by; the final emission
    equals the batch top-N over the whole input.

    A NULL value is an event like any other: it stays in the buffer
    as NULL and counts in n_buffered, orders after the non-NULL
    values of its ts (as a descending sort puts NULLs last), and is
    skipped by sum_recent_cents, which is NULL when every buffered
    value is, as SQL SUM is.
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
        n_seen, ts_us, cents = state.get if state.exists else (0, [], [])
        buf = list(zip(ts_us, cents))
        for pdf in pdfs:
            new_cents = [
                None if pd.isna(c) else int(c)
                for c in (pdf["value"] * 100.0).round().tolist()
            ]
            buf.extend(zip(_ts_us(pdf).tolist(), new_cents))
            n_seen += len(pdf)
        # bounded top-N by event time (ties: larger cents first, NULL
        # last, so the truncation is a deterministic function of the
        # multiset)
        buf = sorted(
            buf, key=lambda p: (p[0], p[1] is not None, p[1] or 0),
            reverse=True,
        )[:keep]
        state.update(
            (n_seen, [int(t) for t, _ in buf], [c for _, c in buf])
        )
        present = [c for _, c in buf if c is not None]
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_seen": [n_seen],
                "n_buffered": [len(buf)],
                "sum_recent_cents": [sum(present) if present else None],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_seen long, n_buffered long, "
        "sum_recent_cents long",
        stateStructType="n_seen long, ts_us array<long>, cents array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def timer_closed_sessions(
    events: DataFrame, gap_minutes: int = 60
) -> DataFrame:
    """Sessionization over (user_id, ts) whose sessions CLOSE on
    whichever comes first: the next event revealing the gap (emitted
    inline from the fold), or the event-time watermark passing
    last_event + gap with no further events (``EventTimeTimeout``).
    The timeout follows the STREAM (the watermark), not wall clock, so
    idle-key closure is a deterministic, replayable function of the
    input. Each closed session emits exactly once as (user_id,
    session_start_us, session_last_us, n_events), and its state
    clears; sessions whose gap hasn't elapsed by end of input stay
    open in state. State is O(1) per key.

    Boundary: Spark fires the timeout only when the watermark strictly
    EXCEEDS the armed timestamp, so a final session closes iff
    watermark_ms > floor(last_us / 1000) + gap_ms.

    The input stream must carry an event-time watermark (withWatermark
    before the groupBy): it is the clock that fires the timeouts.
    availableNow drains still close elapsed sessions, because Spark
    runs a trailing no-data micro-batch after the watermark's final
    advance.
    """
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
            closed = [state.get]
            state.remove()
        else:
            ts_all: list[int] = []
            for pdf in pdfs:
                ts_all.extend(_ts_us(pdf).tolist())
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
        outputStructType="user_id long, session_start_us long, "
        "session_last_us long, n_events long",
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
