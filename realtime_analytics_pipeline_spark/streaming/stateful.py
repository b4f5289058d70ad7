"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no custom process functions (all stateful logic is
window aggregation, SURVEY §2.4), but a complete engine needs the
escape hatch. This module implements **running cumulative metrics per
event type** — a carried-state operator no built-in window aggregation
expresses: each micro-batch emits, per event type, the cumulative
event/user-bloom counts since stream start.

Pattern notes (the part worth copying at 100 TB):

- state is keyed by the groupBy key → scales horizontally like any
  keyed aggregation;
- state payload is a tiny fixed-size tuple (counts + a 1024-bit bloom
  of user ids), NOT raw rows — bounded memory per key forever;
- the bloom stands in for the unbounded distinct-user set: the same
  sketch-over-state trade the HLL variant makes, shown explicitly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("cumulative_events", LongType()),
        StructField("approx_cumulative_users", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("events", LongType()),
        StructField("bloom", StringType()),  # hex, 1024 bits
    ]
)

_BLOOM_BITS = 1024


def _bloom_add(bloom: int, key: str) -> int:
    for seed in (b"s1", b"s2", b"s3"):
        h = int.from_bytes(
            hashlib.md5(seed + key.encode()).digest()[:4], "big"
        )
        bloom |= 1 << (h % _BLOOM_BITS)
    return bloom


def _bloom_estimate(bloom: int) -> int:
    """Bloom fill-ratio cardinality estimate: n ≈ -m/k · ln(1 - X/m)."""
    import math

    x = bin(bloom).count("1")
    if x >= _BLOOM_BITS:
        return 10**9
    return int(-_BLOOM_BITS / 3 * math.log(1 - x / _BLOOM_BITS))


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        events, bloom_hex = state.get
        bloom = int(bloom_hex, 16)
    else:
        events, bloom = 0, 0
    for pdf in pdfs:
        events += len(pdf)
        for uid in pdf["user_id"]:
            bloom = _bloom_add(bloom, str(uid))
    state.update((events, format(bloom, "x")))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "cumulative_events": [events],
            "approx_cumulative_users": [_bloom_estimate(bloom)],
        }
    )


def running_totals_per_type(events: DataFrame) -> DataFrame:
    """events (stream) -> per-type running totals, one row per type per
    micro-batch. Works on batch DataFrames too (single 'batch')."""
    return events.select("event_type", "user_id").groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Custom sessionization: the escape-hatch twin of F.session_window.
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("session_id", StringType()),
        StructField("user_id", StringType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("page_count", LongType()),
    ]
)

# open session carried across micro-batches: bounded, O(1) per key
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("page_count", LongType()),
    ]
)


def _sessionize_update_fn(gap_us: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        session_id, user_id = key
        done: list[tuple[int, int, int]] = []

        if state.hasTimedOut:
            # watermark passed end + gap: the open session is final
            if state.exists:
                done.append(tuple(state.get))
                state.remove()
        else:
            cur = tuple(state.get) if state.exists else None
            times: list[int] = []
            for pdf in pdfs:
                # datetime64[*] -> epoch micros, unit-proof
                vals = (
                    pdf["event_time"].astype("datetime64[us]").astype("int64")
                )
                times.extend(int(v) for v in vals)
            # order within the batch; cross-batch order is the
            # watermark's job (late events beyond it were dropped
            # upstream by withWatermark)
            times.sort()
            for t in times:
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_us:
                    done.append(cur)  # gap split: previous session final
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], max(cur[1], t), cur[2] + 1)
            if cur is not None:
                expiry_ms = cur[1] // 1000 + gap_us // 1000
                wm_ms = state.getCurrentWatermarkMs()
                if expiry_ms <= wm_ms:
                    # already evictable (a later micro-batch advanced
                    # the watermark past end + gap before this key saw
                    # new data) — setting a timeout in the past is
                    # illegal, and by watermark contract no earlier
                    # event can still arrive: finalize now
                    done.append(cur)
                    if state.exists:
                        state.remove()
                else:
                    state.update(cur)
                    # fire when the watermark passes end + gap
                    state.setTimeoutTimestamp(expiry_ms)

        if done:
            yield pd.DataFrame(
                {
                    "session_id": [session_id] * len(done),
                    "user_id": [user_id] * len(done),
                    "start_us": [d[0] for d in done],
                    "end_us": [d[1] for d in done],
                    "page_count": [d[2] for d in done],
                }
            )

    return update


def sessionize_stateful(events: DataFrame, gap_us: int = 1800 * 1_000_000) -> DataFrame:
    """Canonical events (stream, watermarked) -> FINALIZED sessions.

    The applyInPandasWithState twin of ``session_metrics``'s native
    ``F.session_window`` (reference session_tracker.py:29-36): keyed
    state = the one open session per (session_id, user_id); a session
    is emitted exactly once, either when a later event splits the key
    (gap exceeded, emitted in that micro-batch) or when the event-time
    timeout fires (watermark passed end + gap) — append semantics, the
    same eviction rule the native session window applies in append
    mode.

    Why the escape hatch matters: session_window's aggregate surface is
    fixed (aggregations over window members); a process function can
    carry arbitrary per-session state (e.g. a bloom of seen pages,
    first/last event payloads) and apply custom split rules. At 100 TB
    the scaling shape is identical to any keyed aggregation: state is
    partitioned by key across executors, O(1) payload per key, and
    RocksDB (config.state_store_provider) keeps it off-heap.
    """
    # keep the watermarked TIMESTAMP column itself in the operator
    # input (event-time timeout requires a watermark-tagged column in
    # the child plan); micros conversion happens pandas-side
    prepared = events.select("session_id", "user_id", "event_time")
    return prepared.groupBy("session_id", "user_id").applyInPandasWithState(
        _sessionize_update_fn(gap_us),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Self-calibrating CUSUM as a streaming stateful operator (round 6):
# the online twin of operators/timeseries.py::cusum_drift, with the
# target learned from the finalized prefix instead of a global pass.
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("minute_ms", LongType()),
        StructField("total_cents", LongType()),
        StructField("target_cents", LongType()),
        StructField("cusum_pos", LongType()),
        StructField("is_drift", BooleanType()),
    ]
)

# pending (open) minutes + the O(1) calibration/CUSUM carry
CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("pending_ms", StringType()),     # csv of open minutes
        StructField("pending_cents", StringType()),  # csv, same order
        StructField("n_done", LongType()),
        StructField("sum_done", LongType()),
        StructField("cum", LongType()),
        StructField("min_cum", LongType()),
        StructField("last_final_ms", LongType()),
    ]
)


def _cusum_update_fn(bucket_ms: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            p_ms, p_cents, n_done, sum_done, cum, min_cum, last_fin = (
                state.get
            )
            pending = dict(
                zip(
                    (int(x) for x in p_ms.split(",") if x),
                    (int(x) for x in p_cents.split(",") if x),
                )
            )
        else:
            pending, n_done, sum_done, cum, min_cum, last_fin = (
                {}, 0, 0, 0, 0, -1,
            )

        for pdf in pdfs:
            for m, c in zip(pdf["minute_ms"], pdf["cents"]):
                m, c = int(m), int(c)
                if m <= last_fin:
                    continue  # beyond-watermark straggler: drop, as the
                    # windowed-agg path would
                pending[m] = pending.get(m, 0) + c

        wm = state.getCurrentWatermarkMs()
        out_rows = []
        for m in sorted(pending):
            if m + bucket_ms > wm:
                break
            x = pending.pop(m)
            # prior-prefix calibration: the first minute is its own
            # target (no drift possible at cold start)
            target = x if n_done == 0 else sum_done // n_done
            cum += x - target
            min_cum = min(min_cum, cum)
            cusum = cum - min(min_cum, 0)
            out_rows.append(
                (m, x, target, cusum, bool(cusum > 2 * target))
            )
            n_done += 1
            sum_done += x
            last_fin = m
        state.update(
            (
                ",".join(str(m) for m in sorted(pending)),
                ",".join(str(pending[m]) for m in sorted(pending)),
                n_done, sum_done, cum, min_cum, last_fin,
            )
        )
        if pending:
            # arm the event-time timeout at the earliest open minute's
            # end so the final no-data batch finalizes the tail
            state.setTimeoutTimestamp(min(pending) + bucket_ms)
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[
                    "minute_ms", "total_cents", "target_cents",
                    "cusum_pos", "is_drift",
                ],
            )

    return update


def cusum_stateful(events: DataFrame, bucket_ms: int = 60_000) -> DataFrame:
    """events (stream with event_time watermark) -> finalized per-minute
    self-calibrating CUSUM rows, emitted as the watermark passes each
    minute's end.

    Online semantics (exactly what the SQL-window oracle computes over
    the finalized set): target_t = floor(mean of previously finalized
    minutes) — cold start: the first minute is its own target — then
    Page's recurrence via the cum − min(0, running-min-cum) closed form.
    State is O(open minutes + 5 longs) under the single calibration
    key; a multi-series deployment keys by series and scales like any
    keyed stateful op. Integer cents throughout, so the streaming fold
    and the oracle's window expressions agree bit-for-bit.
    """
    from pyspark.sql import functions as F

    rows = events.select(
        "event_time",
        (
            (F.unix_millis("event_time") / bucket_ms).cast("long")
            * bucket_ms
        ).alias("minute_ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lit(0).alias("g"),
    )
    return rows.groupBy("g").applyInPandasWithState(
        _cusum_update_fn(bucket_ms),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Round-9: phase 2 of STREAMING two-phase sessionization — merge the
# bucketed partial sessions that phase 1 (native session_window keyed
# by (session_id, user_id, time-bucket)) emits. The batch twin is
# operators/session_metrics.session_metrics_bucketed; this is the
# streaming form of the same hot-key mitigation: phase 1's state key
# carries the bucket, so one viral session_id spreads its state and
# window work across its time extent.
# ---------------------------------------------------------------------------


def _merge_partials_update_fn(gap_us: int, bucket_us: int):
    """Keyed interval-merge over phase-1 partials.

    Correctness subtlety (the reason this is NOT the event-level
    update fn re-used): when the merged state would close (no partial
    within ``gap`` of its end), a SAME-session successor partial can
    still be withheld inside phase 1 — a partial is only emitted once
    phase 1's watermark passes ITS OWN end + gap, and its end can be
    as late as its bucket's boundary. Closing on ``state.end + gap``
    (the event-level rule) would emit a TRUNCATED prefix and then
    wrongly start a new session when the successor finally arrives.
    The sound close rule: a successor must START in
    (state.end, state.end + gap], so it lives in the bucket of
    ``state.end + gap`` at the latest and ends by that bucket's
    boundary — time out at ``bucket_end(bucket(state.end + gap)) +
    gap`` instead. Receiving the successor earlier extends the state
    and re-arms the (later) timeout; the induction covers arbitrarily
    long bucket chains.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        session_id, user_id = key
        done: list[tuple[int, int, int]] = []

        if state.hasTimedOut:
            if state.exists:
                done.append(tuple(state.get))
                state.remove()
        else:
            cur = tuple(state.get) if state.exists else None
            parts: list[tuple[int, int, int]] = []
            for pdf in pdfs:
                s = pdf["start_time"].astype("datetime64[us]").astype("int64")
                e = pdf["end_time"].astype("datetime64[us]").astype("int64")
                c = pdf["page_count"].astype("int64")
                parts.extend(
                    (int(si), int(ei), int(ci))
                    for si, ei, ci in zip(s, e, c)
                )
            parts.sort()
            for s_us, e_us, cnt in parts:
                if cur is None:
                    cur = (s_us, e_us, cnt)
                elif s_us - cur[1] > gap_us:
                    done.append(cur)  # gap split: previous merged final
                    cur = (s_us, e_us, cnt)
                else:
                    cur = (cur[0], max(cur[1], e_us), cur[2] + cnt)
            if cur is not None:
                b1 = (cur[1] + gap_us) // bucket_us
                expiry_ms = ((b1 + 1) * bucket_us + gap_us) // 1000
                wm_ms = state.getCurrentWatermarkMs()
                if expiry_ms <= wm_ms:
                    done.append(cur)
                    if state.exists:
                        state.remove()
                else:
                    state.update(cur)
                    state.setTimeoutTimestamp(expiry_ms)

        if done:
            yield pd.DataFrame(
                {
                    "session_id": [session_id] * len(done),
                    "user_id": [user_id] * len(done),
                    "start_us": [d[0] for d in done],
                    "end_us": [d[1] for d in done],
                    "page_count": [d[2] for d in done],
                }
            )

    return update


def merge_partials_stateful(
    partials: DataFrame,
    gap_us: int = 1800 * 1_000_000,
    bucket_ms: int = 86_400_000,
) -> DataFrame:
    """Phase 2 of streaming two-phase sessionization: FINALIZED merged
    sessions from a watermarked stream of phase-1 partials
    (session_id, user_id, start_time, end_time, page_count). The input
    must be watermarked on ``end_time``."""
    prepared = partials.select(
        "session_id", "user_id", "start_time", "end_time", "page_count"
    )
    return prepared.groupBy("session_id", "user_id").applyInPandasWithState(
        _merge_partials_update_fn(gap_us, bucket_ms * 1000),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
