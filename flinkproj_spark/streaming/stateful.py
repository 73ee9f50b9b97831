"""Custom stateful streaming operator: per-key session windows via
applyInPandasWithState.

The reference's only stateful operator is the keyed tumbling window
(MyAggFunction.java:19-51), which Spark's built-in windowed aggregation
covers (operators/report.py). THIS module declares the genuinely-custom
path the built-ins can't express: arbitrary per-key state machines —
here 30-minute-gap sessionization with event-time timeouts, the
streaming twin of the batch `sessionize` query key
(operators/relational.py).

Scale design: state is one fixed-width tuple per live key (3 longs),
partitioned by the grouping key across executors by the state store;
Arrow batches carry each key's rows into Python once per micro-batch
(no per-row serde). RocksDB state store
(spark.sql.streaming.stateStore.providerClass) holds state off-heap
when the live-key set outgrows memory — the same knob the reference
left commented out (DataClean.java:54).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_S = 1800

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
# (session_start_s, last_event_s, n_events) — epoch seconds.
STATE_SCHEMA = "start long, last long, n long"


def _sessions_for_key(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Walk this key's events in event-time order, emitting a session
    row whenever a gap > SESSION_GAP_S closes one; the open session
    lives in `state` between micro-batches and is flushed by the
    event-time timeout once the watermark passes last_event + gap."""
    (user_id,) = key

    def _emit(rows: list[tuple[int, int, int]]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": pd.Series([user_id] * len(rows), dtype="int64"),
                "session_start": pd.to_datetime([r[0] for r in rows], unit="s"),
                "session_end": pd.to_datetime([r[1] for r in rows], unit="s"),
                "n_events": pd.Series([r[2] for r in rows], dtype="int64"),
            }
        )

    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield _emit([(start, last, n)])
        return

    ts: list[int] = []
    for pdf in pdfs:
        ts.extend(int(v) for v in pdf["ts"].astype("int64") // 1_000_000_000)
    ts.sort()

    start, last, n = state.get if state.exists else (None, None, 0)
    closed: list[tuple[int, int, int]] = []
    for t in ts:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > SESSION_GAP_S:
            closed.append((start, last, n))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    state.update((start, last, n))
    state.setTimeoutTimestamp((last + SESSION_GAP_S) * 1000)
    if closed:
        yield _emit(closed)


def stream_sessionize(events: DataFrame) -> DataFrame:
    """events(user_id, ts) stream → closed-session stream. Watermark 0 s
    (corpus replays are in order; widen for real disorder) drives both
    late-drop and the timeout that flushes idle sessions."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessions_for_key,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---- rolling-z anomaly stream (the stateful twin of operators/
# analytic.anomaly_rolling_z) -------------------------------------------

ANOM_WIN = 20   # ring buffer: the 20 preceding values per key
ANOM_MIN = 10   # emit a verdict only with >= 10 history rows

ANOM_OUTPUT_SCHEMA = (
    "event_id long, event_type string, v_c long, n long, s long, is_anomaly int"
)
# The per-key state is the ring buffer itself: at most 20 longs.
ANOM_STATE_SCHEMA = "vals array<long>"


def _anomaly_for_key(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Replay this key's events in (ts, event_id) order against the
    ring buffer carried in state, emitting the same BIGINT-exact
    verdict as the batch operator: (n·v − s)² > 9·(n·ss − s²).
    Python ints are arbitrary-precision, so the arithmetic is exactly
    the batch plan's BIGINT math — no float mean, no sqrt."""
    import math

    (etype,) = key
    buf: list[int] = list(state.get[0]) if state.exists else []
    rows: list[tuple[int, int, int, int, int]] = []
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for ev, val in zip(pdf["event_id"].astype("int64"), pdf["value"]):
        v = int(math.floor(float(val) * 100 + 0.5))  # relational._cents
        n, s = len(buf), sum(buf)
        if n >= ANOM_MIN:
            ss = sum(x * x for x in buf)
            flag = int((n * v - s) ** 2 > 9 * (n * ss - s * s))
            rows.append((int(ev), v, n, s, flag))
        buf.append(v)
        if len(buf) > ANOM_WIN:
            buf = buf[-ANOM_WIN:]
    state.update((buf,))
    if rows:
        yield pd.DataFrame(
            {
                "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "event_type": pd.Series([etype] * len(rows)),
                "v_c": pd.Series([r[1] for r in rows], dtype="int64"),
                "n": pd.Series([r[2] for r in rows], dtype="int64"),
                "s": pd.Series([r[3] for r in rows], dtype="int64"),
                "is_anomaly": pd.Series([r[4] for r in rows], dtype="int32"),
            }
        )


def stream_rolling_anomaly(events: DataFrame) -> DataFrame:
    """events(event_id, ts, event_type, value) stream → per-event
    anomaly verdicts against each key's 20 predecessors. State is one
    bounded array per live key (≤ 20 longs — O(1), never grows with
    stream length); Arrow batches carry each key's rows into Python
    once per micro-batch. Verdicts match the batch operator exactly
    when the stream replays in event-time order. The 0-second
    watermark DROPS any event that arrives after a later-timestamped
    event has closed a prior micro-batch (same deliberate tradeoff as
    stream_sessionize: corpus replays are in order) — widen the
    watermark for real disorder, accepting that within-delay late
    events then enter the ring in ARRIVAL order, which can diverge
    from the batch twin's strict event-time order (the batch op is
    the backfill/repair path)."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("event_type")
        .applyInPandasWithState(
            _anomaly_for_key,
            outputStructType=ANOM_OUTPUT_SCHEMA,
            stateStructType=ANOM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---- rolling-median stream (the stateful twin of operators/
# analytic.rolling_median) ----------------------------------------------

MED_OUTPUT_SCHEMA = (
    "event_id long, event_type string, v_c long, n long, med2_c long, "
    "above_2x_median int"
)
MED_STATE_SCHEMA = "vals array<long>"


def _median_for_key(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Replay this key's events in (ts, event_id) order against the
    ring buffer, emitting 2×median in integer cents (med2_c = the sum
    of the two middle elements — exact, no float interpolation) and
    the same above-2×-median verdict as the batch operator: since
    2·median = med2_c exactly, the flag is the integer comparison
    v_c > med2_c."""
    import math

    (etype,) = key
    buf: list[int] = list(state.get[0]) if state.exists else []
    rows: list[tuple[int, int, int, int, int]] = []
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for ev, val in zip(pdf["event_id"].astype("int64"), pdf["value"]):
        v = int(math.floor(float(val) * 100 + 0.5))  # relational._cents
        n = len(buf)
        if n >= ANOM_MIN:
            srt = sorted(buf)
            med2 = 2 * srt[n // 2] if n % 2 else srt[n // 2 - 1] + srt[n // 2]
            rows.append((int(ev), v, n, med2, int(v > med2)))
        buf.append(v)
        if len(buf) > ANOM_WIN:
            buf = buf[-ANOM_WIN:]
    state.update((buf,))
    if rows:
        yield pd.DataFrame(
            {
                "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "event_type": pd.Series([etype] * len(rows)),
                "v_c": pd.Series([r[1] for r in rows], dtype="int64"),
                "n": pd.Series([r[2] for r in rows], dtype="int64"),
                "med2_c": pd.Series([r[3] for r in rows], dtype="int64"),
                "above_2x_median": pd.Series([r[4] for r in rows], dtype="int32"),
            }
        )


def stream_rolling_median(events: DataFrame) -> DataFrame:
    """events(event_id, ts, event_type, value) stream → per-event
    rolling-median baseline against each key's 20 predecessors. Same
    state bound (≤ 20 longs/key), ordering contract, and watermark
    tradeoff as stream_rolling_anomaly; converges to the batch
    rolling_median operator (med2_c = 2×median in cents avoids any
    float interpolation in the comparison)."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("event_type")
        .applyInPandasWithState(
            _median_for_key,
            outputStructType=MED_OUTPUT_SCHEMA,
            stateStructType=MED_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---- streaming attribution (the stateful twin of operators/
# relational.attribution_first_last) ------------------------------------

ATTR_OUTPUT_SCHEMA = (
    "purchase_id long, user_id long, first_touch_id long, last_touch_id long, "
    "n_prior_touches long, single_touch int"
)
# (first_touch, last_touch, n_touches) per user — 3 longs, forever-live
# by design (attribution never forgets a user's first touch); a real
# deployment bounds the key space with a TTL timeout on inactive users.
ATTR_STATE_SCHEMA = "first long, last long, n long"


def _attr_for_key(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Replay this user's events in the batch operator's exact order —
    (ts, touch-before-purchase, event_id) — against the carried
    (first, last, n) touch state, emitting one attribution row per
    purchase the moment it arrives."""
    (user_id,) = key
    rows: list[tuple[int, int, int]] = []  # (ts_us, is_probe, event_id)
    for pdf in pdfs:
        probes = (pdf["event_type"] == "purchase").astype("int64")
        for t, p, e in zip(
            pdf["ts"].astype("int64") // 1000, probes, pdf["event_id"]
        ):
            rows.append((int(t), int(p), int(e)))
    rows.sort()

    first, last, n = state.get if state.exists else (None, None, 0)
    out: list[tuple[int, Any, Any, int, int]] = []
    for _t, is_probe, event_id in rows:
        if is_probe:
            single = int(first is not None and first == last)
            out.append((event_id, first, last, n, single))
        else:
            first = event_id if first is None else first
            last, n = event_id, n + 1
    if n:  # never store an all-null state for touchless users
        state.update((first, last, n))
    if out:
        yield pd.DataFrame(
            {
                "purchase_id": pd.Series([r[0] for r in out], dtype="int64"),
                "user_id": pd.Series([user_id] * len(out), dtype="int64"),
                "first_touch_id": pd.Series([r[1] for r in out], dtype="Int64"),
                "last_touch_id": pd.Series([r[2] for r in out], dtype="Int64"),
                "n_prior_touches": pd.Series([r[3] for r in out], dtype="int64"),
                "single_touch": pd.Series([r[4] for r in out], dtype="int32"),
            }
        )


def stream_attribution(events: DataFrame) -> DataFrame:
    """events(user_id, ts, event_type, event_id) stream → one
    attribution row per purchase AT INGEST TIME (first/last touch +
    linear-model denominator), converging to the batch
    attribution_first_last on an in-order replay — the reference's
    keyed-state idiom (Flink ValueState per user) expressed as
    applyInPandasWithState. State is three longs per user; Arrow
    batches carry each user's rows into Python once per micro-batch."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _attr_for_key,
            outputStructType=ATTR_OUTPUT_SCHEMA,
            stateStructType=ATTR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


CEP_OUTPUT_SCHEMA = (
    "user_id long, match_seq int, t_view_us long, t_click_us long, "
    "t_purchase_us long, duration_sec long"
)
CEP_STATE_SCHEMA = "stage int, t1 long, t2 long, seq long"


def _cep_for_key(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from flinkproj_spark.operators.analytic import _CEP_WITHIN_US

    (user_id,) = key
    rows: list[tuple[int, int, str]] = []
    for pdf in pdfs:
        for t, e, et in zip(
            pdf["ts"].astype("int64") // 1000, pdf["event_id"], pdf["event_type"]
        ):
            rows.append((int(t), int(e), str(et)))
    rows.sort()

    stage, t1, t2, seq = state.get if state.exists else (0, 0, 0, 0)
    out: list[tuple[int, int, int, int]] = []
    for ts, _eid, et in rows:
        if (stage == 1 and ts - t1 > _CEP_WITHIN_US) or (
            stage == 2 and ts - t2 > _CEP_WITHIN_US
        ):
            stage = 0
        if stage == 0 and et == "view":
            stage, t1 = 1, ts
        elif stage == 1 and et == "click":
            stage, t2 = 2, ts
        elif stage == 2 and et == "purchase":
            seq += 1
            out.append((seq, t1, t2, ts))
            stage = 0
    state.update((stage, t1, t2, seq))
    if out:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([user_id] * len(out), dtype="int64"),
                "match_seq": pd.Series([r[0] for r in out], dtype="int32"),
                "t_view_us": pd.Series([r[1] for r in out], dtype="int64"),
                "t_click_us": pd.Series([r[2] for r in out], dtype="int64"),
                "t_purchase_us": pd.Series([r[3] for r in out], dtype="int64"),
                "duration_sec": pd.Series(
                    [(r[3] - r[1]) // 1_000_000 for r in out], dtype="int64"
                ),
            }
        )


def stream_cep_matches(events: DataFrame) -> DataFrame:
    """Streaming CEP — matches fire AT INGEST, which is where CEP
    belongs (the batch twin operators/analytic.py::cep_pattern_matches
    replays history; this is the live detector). The same greedy
    skip-till-next-match machine for view → click → purchase with
    3-day transition bounds runs per user as keyed state — exactly
    Flink's CEP-over-ValueState idiom expressed as
    applyInPandasWithState. State is four longs per user (stage, two
    timestamps, match counter) — constant, no match buffers; each
    completed match emits immediately with its sequence number, so
    the stream output equals the batch operator's rows on an in-order
    replay (pinned in tests/test_streaming_ext.py)."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cep_for_key,
            outputStructType=CEP_OUTPUT_SCHEMA,
            stateStructType=CEP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---- TWAP stream (the stateful twin of operators/analytic.
# twap_user_value) ------------------------------------------------------

TWAP_OUTPUT_SCHEMA = (
    "user_id long, event_id long, t_s long, n_events long, span_s long, "
    "twsum long, twap_c long"
)
TWAP_STATE_SCHEMA = "min_t long, last_t long, last_vc long, twsum long, n long"


def _twap_for_key(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Replay this user's events in (ts, event_id) order against the
    5-long running state: each arrival charges the PREVIOUS value for
    the hold interval (last_vc * dt whole seconds — the batch
    operator's weights), then becomes the held value. Python ints keep
    the arithmetic exactly the batch plan's BIGINT math."""
    import math

    (user,) = key
    if state.exists:
        min_t, last_t, last_vc, twsum, n = state.get
    else:
        min_t = last_t = last_vc = twsum = n = None
    rows: list[tuple[int, int, int, int, int, int]] = []
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for ev, ts, val in zip(
        pdf["event_id"].astype("int64"), pdf["ts"], pdf["value"]
    ):
        t_s = int(ts.value) // 1_000_000_000  # pandas ns -> whole seconds
        vc = int(math.floor(float(val) * 100 + 0.5))
        if n is None:
            min_t, twsum, n = t_s, 0, 0
        else:
            twsum += last_vc * (t_s - last_t)
        last_t, last_vc = t_s, vc
        n += 1
        if n >= 2:
            span = last_t - min_t
            rows.append(
                (int(ev), t_s, n, span, twsum, twsum // span if span else 0)
            )
    state.update((min_t, last_t, last_vc, twsum, n))
    if rows:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([user] * len(rows), dtype="int64"),
                "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "t_s": pd.Series([r[1] for r in rows], dtype="int64"),
                "n_events": pd.Series([r[2] for r in rows], dtype="int64"),
                "span_s": pd.Series([r[3] for r in rows], dtype="int64"),
                "twsum": pd.Series([r[4] for r in rows], dtype="int64"),
                "twap_c": pd.Series([r[5] for r in rows], dtype="int64"),
            }
        )


def stream_twap(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, value) stream → per-event running
    time-weighted average per user (the live dashboard feed whose
    final row per user equals batch twap_user_value; span=0 rows are
    suppressed upstream by the n>=2 emission rule, matching the batch
    filter). State is five longs per live user — O(1) forever; Arrow
    carries each user's micro-batch rows into Python once. Same
    in-order-replay contract as the other stateful twins: the 0-second
    watermark drops genuinely late arrivals, and the batch operator is
    the backfill/repair path for disordered history."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _twap_for_key,
            outputStructType=TWAP_OUTPUT_SCHEMA,
            stateStructType=TWAP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---- funnel-stage stream (the stateful twin of operators/
# analytic.funnel_steps) -------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = "user_id long, stage int, ts timestamp"
FUNNEL_STATE_SCHEMA = "t1 long, t2 long, t3 long"


def _funnel_for_key(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Replay this user's events in (ts, event_id) order against the
    (t1, t2, t3) earliest-qualifying-stage state: a stage advances on
    the first event of the right type STRICTLY after the previous
    stage's timestamp — exactly the batch funnel's MIN(CASE ...)
    chain, because an in-order replay's first qualifying hit IS that
    minimum. Emits one row per stage ADVANCE (the live funnel edge a
    growth dashboard increments on), nothing on non-advancing events."""
    (uid,) = key
    t1, t2, t3 = state.get if state.exists else (None, None, None)
    rows: list[tuple[int, object]] = []
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for etype, ts in zip(pdf["event_type"], pdf["ts"]):
        us = int(ts.value // 1000)  # pandas ns -> micros
        if etype == "view" and t1 is None:
            t1 = us
            rows.append((1, ts))
        elif etype == "click" and t1 is not None and us > t1 and t2 is None:
            t2 = us
            rows.append((2, ts))
        elif etype == "purchase" and t2 is not None and us > t2 and t3 is None:
            t3 = us
            rows.append((3, ts))
    state.update((t1, t2, t3))
    if rows:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([int(uid)] * len(rows), dtype="int64"),
                "stage": pd.Series([r[0] for r in rows], dtype="int32"),
                "ts": pd.Series([r[1] for r in rows]),
            }
        )


def stream_funnel_stage(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type) stream → per-user
    funnel-stage ADVANCE events (view → click → purchase, each stage
    strictly after the previous — the temporal-order semantics of the
    batch funnel_steps). The count of users whose emitted max stage is
    ≥ k converges to the batch funnel's stage-k counter (pinned in
    tests). State is three nullable longs per live user — O(1) per
    key; Arrow batches carry each user's rows into Python once per
    micro-batch. Same in-order-replay watermark contract as
    stream_rolling_anomaly (the batch op is the backfill path)."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_for_key,
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
