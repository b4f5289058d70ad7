"""Output checks. Each returns a list of problems; empty means correct.

They take plain rows so that a test can corrupt one row and watch the
check fail, without a Spark session.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

WINDOW_MS = 60_000


def expected_event_counts(events) -> dict[tuple[int, str], tuple[int, int]]:
    """(window_start_ms, type) -> (events, distinct users), from
    ``(event_ms, type, user)`` triples of the accepted allowed events."""
    counts: Counter = Counter()
    users: dict[tuple[int, str], set] = defaultdict(set)
    for ts, typ, user in events:
        key = (ts - ts % WINDOW_MS, typ)
        counts[key] += 1
        users[key].add(user)
    return {k: (counts[k], len(users[k])) for k in counts}


def check_event_counts(expected, stored, watermark_ms: int, dropped: int) -> list[str]:
    """Every accepted event of an allowed type is counted exactly once in
    the stored event metrics of the finalized windows, or was reported
    dropped by the watermark.

    ``stored``: ``(window_start_ms, type, event_count, user_count)`` rows.
    """
    problems: list[str] = []
    got: dict[tuple[int, str], tuple[int, int]] = {}
    for ws, typ, n, users in stored:
        if (ws, typ) in got:
            problems.append(f"window {ws} {typ} stored twice")
        got[(ws, typ)] = (n, users)
    want = {k: v for k, v in expected.items() if k[0] + WINDOW_MS <= watermark_ms}
    deficit = 0
    for key in sorted(set(want) | set(got)):
        n_want, u_want = want.get(key, (0, 0))
        n_got, u_got = got.get(key, (0, 0))
        if n_got > n_want:
            problems.append(f"window {key}: {n_got} events stored, {n_want} accepted")
        elif n_got < n_want:
            deficit += n_want - n_got
        if n_got == n_want and u_got != u_want:
            problems.append(f"window {key}: {u_got} users stored, {u_want} expected")
    if deficit != dropped:
        problems.append(
            f"{deficit} accepted events missing from storage, "
            f"{dropped} reported dropped by the watermark"
        )
    return problems


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_rows(name: str, got: list[tuple], want: list[tuple], n_keys: int) -> list[str]:
    """Stored rows equal the batch twin's rows: same keys (the first
    ``n_keys`` fields), each key once, and equal values (floats to 1e-9
    relative, since streaming and batch sum in different orders)."""
    problems: list[str] = []
    by_key: dict[tuple, tuple] = {}
    for row in got:
        key = row[:n_keys]
        if key in by_key:
            problems.append(f"{name}: {key} stored twice")
        by_key[key] = row
    want_keys = {row[:n_keys]: row for row in want}
    missing = sorted(set(want_keys) - set(by_key))
    extra = sorted(set(by_key) - set(want_keys))
    if missing:
        problems.append(f"{name}: {len(missing)} rows missing, first {missing[0]}")
    if extra:
        problems.append(f"{name}: {len(extra)} unexpected rows, first {extra[0]}")
    for key, row in want_keys.items():
        other = by_key.get(key)
        if other is not None and not all(map(_same, row, other)):
            problems.append(f"{name}: {key} stored {other[n_keys:]}, twin {row[n_keys:]}")
    return problems
