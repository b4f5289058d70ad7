"""Seeded event generator shared by the load generator and the checks.

Every input of a run is a pure function of the seed: the same seed
gives the same users, types, devices, load times and event times. Only
the wall-clock send times differ between runs.

Event time runs on a compressed clock: ``CLOCK`` event-seconds pass per
wall second, so the engine keeps the reference's 60 s / 300 s / 30 min
/ 10 s windowing while a 60 s window closes within a fraction of a
wall second. A run of ``T`` wall seconds therefore spans ``T * CLOCK /
60`` event-metric windows.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

# Sources of each parameter are in NOTES.md ("Generated events"); the
# ones marked "assumption" have none and say why they were chosen.

# the five types of the fixture `events` table, drawn uniformly as there
# (sf0.1: 19.8 to 20.3 % each) and as in the reference's load generator
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
ALLOWED_TYPES = EVENT_TYPES[:4]  # EngineConfig.allowed_event_types

# the reference load generator's four user agents (Windows and Mac
# desktop, iPhone, Android Mobile), plus one Tablet and one Bot agent so
# that every device class the categorizer knows appears; drawn uniformly
# as in the reference
USER_AGENTS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2) AppleWebKit/605.1.15 Safari/605.1",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) AppleWebKit/605.1.15",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 Mobile Safari/537.36",
    "Mozilla/5.0 (iPad; CPU OS 17_2 like Mac OS X) Tablet AppleWebKit/605.1.15",
    "Mozilla/5.0 (compatible; ExampleBot/2.1; +https://example.com/bot)",
)

CLOCK = 720.0  # event-seconds per wall second
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, event time of offset 0
N_USERS = 10_000  # the reference load generator's user pool
ZIPF_S = 1.1  # assumption: the skew of user keys
LATE_SHARE = 0.1  # assumption: share of events stamped earlier than their send slot
MAX_LATE_MS = 4000  # event-ms; stays inside the 10 s watermark
NULL_LOAD_SHARE = 0.05  # assumption: load time is nullable at ingestion
# load times: lognormal (assumption: median and shape), clipped to the
# reference load generator's 50 to 2000 ms
LOAD_MEDIAN_MS, LOAD_SIGMA, LOAD_MIN_MS, LOAD_MAX_MS = 450.0, 0.6, 50, 2000
BACKLOG_RATE = 2000.0  # virtual send rate that spaces the backlog's event times

_PHASES = {"prime": 1, "live": 2, "backlog": 3}
BLOCK = 4096


def _block(seed: int, phase: str, b: int) -> dict[str, np.ndarray]:
    # the mask maps a negative seed to a valid entropy word, and leaves
    # every non-negative 64-bit seed as it is
    rng = np.random.default_rng([seed & (2**64 - 1), _PHASES[phase], b])
    n = BLOCK
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    user_p = ranks**-ZIPF_S
    user_p /= user_p.sum()
    load = np.exp(rng.normal(np.log(LOAD_MEDIAN_MS), LOAD_SIGMA, n)).astype(np.int64)
    return {
        "user": rng.choice(N_USERS, n, p=user_p),
        "type": rng.integers(0, len(EVENT_TYPES), n),
        "ua": rng.integers(0, len(USER_AGENTS), n),
        "load_ms": np.clip(load, LOAD_MIN_MS, LOAD_MAX_MS),
        "load_null": rng.random(n) < NULL_LOAD_SHARE,
        "late_ms": np.where(
            rng.random(n) < LATE_SHARE, rng.integers(0, MAX_LATE_MS, n), 0
        ),
        "page": rng.integers(1, 101, n),
    }


def columns(seed: int, phase: str, start: int, n: int) -> dict[str, np.ndarray]:
    """Columns of events ``start .. start+n-1`` of one phase. Event ``i``
    is drawn from block ``i // BLOCK`` alone, so it is the same in any
    slice and any process."""
    b0 = start // BLOCK
    blocks = [_block(seed, phase, b) for b in range(b0, (start + n - 1) // BLOCK + 1)]
    lo = start - b0 * BLOCK
    out = {k: np.concatenate([blk[k] for blk in blocks])[lo:lo + n] for k in blocks[0]}
    out["index"] = np.arange(start, start + n, dtype=np.int64)
    return out


def event_ms(offset_s: np.ndarray | float, late_ms=0, base_ms: int = BASE_MS):
    """Event time of an event sent ``offset_s`` wall seconds into its phase."""
    return base_ms + np.round(np.asarray(offset_s) * CLOCK * 1000).astype(
        np.int64
    ) - late_ms


def payload(cols: dict[str, np.ndarray], j: int, ts_ms: int, seed: int, phase: str) -> dict:
    """Row ``j`` of ``columns`` as a nested AnalyticsEvent wire body."""
    user = int(cols["user"][j])
    load = None if cols["load_null"][j] else int(cols["load_ms"][j])
    return {
        "event": {
            "id": f"{seed}-{phase}-{int(cols['index'][j])}",
            "type": EVENT_TYPES[int(cols["type"][j])],
        },
        "user": {"id": f"u{user}"},
        "device": {
            "user_agent": USER_AGENTS[int(cols["ua"][j])],
            "screen_width": 1920,
            "screen_height": 1080,
        },
        "context": {
            "url": f"https://example.com/page_{int(cols['page'][j])}",
            "session_id": f"s{user}",
        },
        "metrics": {"load_time": load, "interaction_time": 900},
        "properties": {"campaign_id": f"camp_{user % 10 + 1}"},
        "timestamp": int(ts_ms),
    }


def payloads(seed: int, phase: str, start: int, n: int, offsets_s, base_ms: int = BASE_MS) -> list[dict]:
    """Wire bodies of events ``start .. start+n-1`` sent at ``offsets_s``."""
    cols = columns(seed, phase, start, n)
    ts = event_ms(offsets_s, cols["late_ms"], base_ms)
    return [payload(cols, j, ts[j], seed, phase) for j in range(n)]


def canonical(seed: int, phase: str, n: int, offsets_s, base_ms: int = BASE_MS,
              keep=None) -> pa.Table:
    """The same events in the engine's canonical columns (what
    ``normalize_wire_events`` makes of the wire bodies), for the checks.
    ``keep``: optional boolean mask of the events that were accepted."""
    cols = columns(seed, phase, 0, n)
    ts = event_ms(offsets_s, cols["late_ms"], base_ms)
    keep = np.ones(n, bool) if keep is None else np.asarray(keep, bool)
    idx = cols["index"][keep]
    users = cols["user"][keep]
    load = np.where(cols["load_null"], -1, cols["load_ms"])[keep]
    return pa.table({
        "event_id": [f"{seed}-{phase}-{i}" for i in idx],
        "event_ms": pa.array(ts[keep], pa.int64()),
        "event_type": np.asarray(EVENT_TYPES, object)[cols["type"][keep]],
        "user_id": [f"u{u}" for u in users],
        "session_id": [f"s{u}" for u in users],
        "user_agent": np.asarray(USER_AGENTS, object)[cols["ua"][keep]],
        "load_time": pa.array(load, pa.int64(), mask=load < 0),
    })


def closing_payload(seed: int, ts_ms: int) -> dict:
    """One event far past every real window: it moves the watermark so
    that append-mode windows and sessions finalize. It has its own user
    and session, so no real session merges with it, and a type and load
    time every job keeps: a row a job filters out before its watermark
    does not move that job's watermark."""
    body = payloads(seed, "prime", 0, 1, [0.0])[0]
    body["event"] = {"id": f"{seed}-close", "type": ALLOWED_TYPES[0]}
    body["metrics"]["load_time"] = 100
    body["user"]["id"] = "closer"
    body["context"]["session_id"] = "closer"
    body["timestamp"] = int(ts_ms)
    return body


def canonical_bodies(bodies: list[dict]) -> pa.Table:
    """``canonical`` for a few wire bodies given as dicts."""
    return pa.table({
        "event_id": [b["event"]["id"] for b in bodies],
        "event_ms": pa.array([b["timestamp"] for b in bodies], pa.int64()),
        "event_type": [b["event"]["type"] for b in bodies],
        "user_id": [b["user"]["id"] for b in bodies],
        "session_id": [b["context"]["session_id"] for b in bodies],
        "user_agent": [b["device"]["user_agent"] for b in bodies],
        "load_time": pa.array([b["metrics"]["load_time"] for b in bodies], pa.int64()),
    })


def encode(body: dict) -> bytes:
    return json.dumps(body, separators=(",", ":")).encode()
