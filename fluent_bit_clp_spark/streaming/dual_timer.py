"""Dual-timer flush — the reference's hard/soft timer semantics, exact.

`/root/reference/plugins/out_clp_s3_v2/internal/flush_manager.go:9-44`
defines two timers per stream:

- **hard** (deadline): set from the first event's ``ts + hard_delta(level)``;
  subsequent events may only move it EARLIER (flush_manager.go:95-105 —
  higher severity pulls the whole stream's upload forward, lower severity
  never extends it);
- **soft** (inactivity): reset on EVERY event to ``ts + min_soft_delta``,
  where the *minimum* soft delta seen in the batch is tracked
  (flush_manager.go:107-116);
- the flush fires at ``min(hard_deadline, soft_deadline)``; firing resets
  all state (Callback, flush_manager.go:55-76).
- per-level deltas fall back to the default level's delta, then a
  hard-coded 1 s (getDeltaSafe, flush_manager.go:126-143); the default
  config is 5 levels (debug..fatal) × 3 s with default level 0
  (internal/context.go:17-22,155-183).

Deterministic re-expression: the timers are pure *event-time* functions of
the per-sink event sequence, so we simulate them exactly — a batch fires
at time T iff no event arrives at-or-before T.  The same kernel backs:

- :func:`dual_timer_batches` — batch operator: per-sink
  ``applyInPandas`` simulation (one group per sink mirrors the
  reference's per-tag serial timers; sink cardinality is small by
  construction);
- :func:`stream_dual_timer_flush` — Structured Streaming
  ``applyInPandasWithState``: events update the timers, the event-time
  timeout (watermark) fires the flush — a real streaming dual-timer.

Invariants ported from flush_manager_test.go:202-276 are pinned in
tests/test_dual_timer.py (earlier-only hard timeout, mixed-severity batch
flushes at min(ts+delta) and never later, state reset after fire).
"""

from __future__ import annotations

import pandas as pd

# internal/context.go:17-22,155-183: 5 levels, 3 s everywhere, default 0.
DEFAULT_DELTAS_MS = [3000, 3000, 3000, 3000, 3000]
DEFAULT_LEVEL = 0
FALLBACK_DELTA_MS = 1000  # flush_manager.go:140-142

# "Unset" sentinel for deadlines: finite (2^62 ms ≈ year 146M) because the
# applyInPandasWithState state transport JSON-serializes doubles and
# Infinity does not survive it (becomes null).  Mirrors the reference's
# softDelta = math.MaxInt64 reset (flush_manager.go:69-70).
_INF = float(1 << 62)

FLUSH_SCHEMA = (
    "sink string, batch_id bigint, flush_at_ms bigint, n_events bigint, "
    "n_bytes bigint, max_level int, first_ts_ms bigint, last_ts_ms bigint"
)
_STATE_SCHEMA = (
    "batch_id long, hard_ms double, min_soft_ms double, soft_ms double, "
    "n_events long, n_bytes long, max_level int, first_ts_ms long, "
    "last_ts_ms long"
)


def delta_ms(level: int, deltas: list[int], default_level: int = DEFAULT_LEVEL) -> int:
    """getDeltaSafe (flush_manager.go:126-143)."""
    if 0 <= level < len(deltas):
        return deltas[level]
    if 0 <= default_level < len(deltas):
        return deltas[default_level]
    return FALLBACK_DELTA_MS


class _TimerState:
    __slots__ = (
        "batch_id", "hard", "min_soft", "soft",
        "n_events", "n_bytes", "max_level", "first_ts", "last_ts",
    )

    def __init__(self, batch_id: int = 0):
        self.batch_id = batch_id
        self.reset()

    def reset(self):
        # Callback state reset (flush_manager.go:66-71):
        # hardTimeout = zero, softDelta = MaxInt64.
        self.hard = _INF
        self.min_soft = _INF
        self.soft = _INF
        self.n_events = 0
        self.n_bytes = 0
        self.max_level = -1
        self.first_ts = None
        self.last_ts = None

    @property
    def fire_at(self) -> float:
        return min(self.hard, self.soft)

    def snapshot(self, sink: str) -> tuple:
        return (
            sink, self.batch_id, int(self.fire_at), self.n_events,
            self.n_bytes, self.max_level, self.first_ts, self.last_ts,
        )


def simulate(
    events,
    state: _TimerState,
    soft_deltas: list[int],
    hard_deltas: list[int],
    default_level: int = DEFAULT_LEVEL,
    sink: str = "",
):
    """Fold ordered (ts_ms, level, n_bytes) events through the dual-timer
    state machine; returns rows for batches *closed by a later event*.
    The still-open batch remains in ``state`` (its fire_at is the pending
    timeout)."""
    closed = []
    for ts, level, nbytes in events:
        if state.n_events > 0 and ts > state.fire_at:
            # timer fired before this event arrived → previous batch flushed
            closed.append(state.snapshot(sink))
            state.batch_id += 1
            state.reset()
        # hard: set once, earlier-only (flush_manager.go:99-105)
        nxt_hard = ts + delta_ms(level, hard_deltas, default_level)
        if nxt_hard < state.hard:
            state.hard = nxt_hard
        # soft: track min delta, reset deadline every event (.107-116)
        sd = delta_ms(level, soft_deltas, default_level)
        if sd < state.min_soft:
            state.min_soft = sd
        state.soft = ts + state.min_soft
        state.n_events += 1
        state.n_bytes += nbytes
        state.max_level = max(state.max_level, level)
        state.first_ts = ts if state.first_ts is None else state.first_ts
        state.last_ts = ts
    return closed


def dual_timer_batches(
    events,
    soft_deltas: list[int] | None = None,
    hard_deltas: list[int] | None = None,
    default_level: int = DEFAULT_LEVEL,
):
    """Batch operator: events(sink, ts_ms, level_id, n_bytes) → one row per
    flush batch (the open tail batch included, with its would-fire time)."""
    soft = soft_deltas or DEFAULT_DELTAS_MS
    hard = hard_deltas or DEFAULT_DELTAS_MS

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_ms"], kind="mergesort")
        sink = pdf["sink"].iloc[0]
        st = _TimerState()
        rows = simulate(
            zip(pdf["ts_ms"], pdf["level_id"], pdf["n_bytes"]),
            st, soft, hard, default_level, sink,
        )
        if st.n_events > 0:
            rows.append(st.snapshot(sink))
        return pd.DataFrame(rows, columns=[
            "sink", "batch_id", "flush_at_ms", "n_events", "n_bytes",
            "max_level", "first_ts_ms", "last_ts_ms",
        ])

    return events.groupBy("sink").applyInPandas(run, FLUSH_SCHEMA)


def stream_dual_timer_flush(
    events,
    soft_deltas: list[int] | None = None,
    hard_deltas: list[int] | None = None,
    default_level: int = DEFAULT_LEVEL,
    watermark: str = "10 seconds",
):
    """Streaming dual-timer: per-sink ``applyInPandasWithState``.

    Events fold through the same kernel; the open batch's ``fire_at`` is
    registered as the group's event-time timeout, so the flush fires when
    the watermark passes the deadline with no newer event — exactly the
    timer-callback condition.  Requires columns (sink, ts timestamp,
    level_id int, n_bytes long).

    Semantics notes vs :func:`dual_timer_batches`:

    - batch ids are monotone per sink across timeout-fired flushes (the
      counter survives in state — a small per-sink state row persists
      between batches, bounded by sink cardinality).  **API requirement
      (ADVICE r2): key this operator on a LOW-CARDINALITY, long-lived sink
      set** (the reference's route tags — a handful of streams).  The
      monotone counter means idle groups keep one permanent state-store
      row each (the timed-out successor is saved, never ``state.remove``d,
      so the next event resumes the count instead of restarting at 0);
      with ephemeral high-cardinality keys (e.g. per-file streams) that
      row-per-key-ever-seen becomes a state leak — derive a bounded sink
      key first (route tags, hash buckets), as the batch pipeline does;
    - events are applied in ARRIVAL order within the watermark (each
      micro-batch is sorted, but a watermark-admitted late event folds
      after earlier-arriving newer events).  That matches the reference's
      real-time timers — the Go flush manager also updates on arrival
      order (flush_manager.go:86-116) — while the batch operator is the
      deterministic event-time replay (global sort).  With ordered input
      the two are identical (asserted in tests).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    soft = soft_deltas or DEFAULT_DELTAS_MS
    hard = hard_deltas or DEFAULT_DELTAS_MS

    def _save(state, st):
        # plain Python scalars only: numpy values from pandas iteration do
        # not survive the state row serialization (come back as null)
        state.update((
            int(st.batch_id), float(st.hard), float(st.min_soft),
            float(st.soft), int(st.n_events), int(st.n_bytes),
            int(st.max_level),
            None if st.first_ts is None else int(st.first_ts),
            None if st.last_ts is None else int(st.last_ts),
        ))

    def _restore(state) -> _TimerState:
        (bid, h, ms, s, n, nb, ml, ft, lt) = state.get
        st = _TimerState(bid)
        st.hard, st.min_soft, st.soft = h, ms, s
        st.n_events, st.n_bytes, st.max_level = n, nb, ml
        st.first_ts, st.last_ts = ft, lt
        return st

    def fold(key, pdf_iter, state: GroupState):
        (sink,) = key
        if state.hasTimedOut:
            st = _restore(state)
            row = st.snapshot(sink)
            # keep the monotone per-sink batch counter alive (VERDICT-style
            # consumers key on (sink, batch_id)); no timeout on the empty
            # successor state — the next event re-arms it.
            st.batch_id += 1
            st.reset()
            _save(state, st)
            yield pd.DataFrame([row], columns=[
                "sink", "batch_id", "flush_at_ms", "n_events", "n_bytes",
                "max_level", "first_ts_ms", "last_ts_ms",
            ])
            return
        st = _restore(state) if state.exists else _TimerState()
        closed = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts_ms", kind="mergesort")
            closed.extend(simulate(
                zip(pdf["ts_ms"], pdf["level_id"], pdf["n_bytes"]),
                st, soft, hard, default_level, sink,
            ))
        _save(state, st)
        if st.n_events > 0:
            state.setTimeoutTimestamp(int(st.fire_at))
        yield pd.DataFrame(closed, columns=[
            "sink", "batch_id", "flush_at_ms", "n_events", "n_bytes",
            "max_level", "first_ts_ms", "last_ts_ms",
        ])

    prepared = events.withWatermark("ts", watermark).withColumn(
        "ts_ms", F.unix_millis("ts")
    )
    return prepared.groupBy("sink").applyInPandasWithState(
        fold,
        FLUSH_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def stream_dual_timer_sync(
    events,
    out_dir: str,
    checkpoint_dir: str,
    soft_deltas: list[int] | None = None,
    hard_deltas: list[int] | None = None,
    watermark: str = "10 seconds",
):
    """T1 + K2 composed: the dual-timer's flush decisions drive the
    overwrite-per-key sync — each fired flush batch lands under a
    deterministic ``sync=<epoch>`` key (re-PUT semantics), mirroring the
    reference's timer-callback → S3 upload chain
    (ingestion.go:110-127 → s3.go:126-149)."""
    from fluent_bit_clp_spark.streaming.flush import stream_sync_overwrite

    flushes = stream_dual_timer_flush(
        events, soft_deltas, hard_deltas, watermark=watermark
    )
    return stream_sync_overwrite(flushes, out_dir, checkpoint_dir)
