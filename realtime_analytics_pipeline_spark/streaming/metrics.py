"""Streaming observability: normalize StreamingQuery progress into
flat metric rows.

The reference publishes an operational envelope (1000 RPS design,
≥70% achieved, ≤5% errors, E2E latency ≈ window + 15 s — BASELINE.md);
Spark's equivalent signal is ``StreamingQueryProgress``. This helper
flattens the JSON into the fields an operator actually alarms on, so
a monitoring sink (or test) can assert throughput/state/watermark
without parsing nested progress blobs.
"""

from __future__ import annotations

from typing import Any


def progress_summary(progress: dict[str, Any]) -> dict[str, Any]:
    """One progress JSON (``query.lastProgress`` /
    ``recentProgress[i]``) -> flat metrics row."""
    state_rows = sum(
        op.get("numRowsTotal", 0) for op in progress.get("stateOperators", [])
    )
    state_bytes = sum(
        op.get("memoryUsedBytes", 0)
        for op in progress.get("stateOperators", [])
    )
    dur = progress.get("durationMs", {})
    return {
        "batch_id": progress.get("batchId"),
        "num_input_rows": progress.get("numInputRows", 0),
        "input_rows_per_sec": progress.get("inputRowsPerSecond", 0.0),
        "processed_rows_per_sec": progress.get(
            "processedRowsPerSecond", 0.0
        ),
        "batch_duration_ms": progress.get("batchDuration", 0),
        "state_rows": state_rows,
        "state_bytes": state_bytes,
        "watermark": progress.get("eventTime", {}).get("watermark"),
        # where the trigger's time went (Spark's durationMs split)
        "trigger_ms": dur.get("triggerExecution", 0),
        "add_batch_ms": dur.get("addBatch", 0),
        "query_planning_ms": dur.get("queryPlanning", 0),
        "wal_commit_ms": dur.get("walCommit", 0),
        "commit_offsets_ms": dur.get("commitOffsets", 0),
        "latest_offset_ms": dur.get("latestOffset", 0),
    }
