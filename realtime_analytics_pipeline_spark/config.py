"""Engine configuration.

Mirrors the reference's processing knobs
(services/processing/src/core/config.py:17-36):

- metrics window 60 s (config.py:21)
- performance window 300 s (config.py:22)
- session gap 1800 s (config.py:23)
- watermark delay 10 s (config.py:19)
- allowed event types (config.py:31-36) — the reference allows
  {page_view, click, conversion, add_to_cart}; the synthetic testdata
  event domain is {view, click, purchase, signup, error}, so the
  default allow-list here is the testdata equivalent with ``error``
  excluded (plays the role of the reference's disallowed types).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # streaming / windowing (reference processing config.py:17-28)
    metrics_window: str = "60 seconds"
    performance_window: str = "300 seconds"
    session_gap: str = "30 minutes"
    watermark_delay: str = "10 seconds"

    # filtering (reference config.py:31-36)
    allowed_event_types: tuple[str, ...] = ("view", "click", "purchase", "signup")

    # serving/cache (reference services/cache/src/core/config.py:23-36)
    window_retention_count: int = 120

    # streaming state backend (SURVEY §4): None = Spark's default
    # HDFS-backed in-memory provider (state must fit in executor
    # heap); ROCKSDB_STATE_STORE_PROVIDER spills state to local disk —
    # the 100 TB configuration for large session/distinct state, same
    # role as Flink's RocksDB state backend in the reference deployment
    state_store_provider: str | None = None


ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

DEFAULT_CONFIG = EngineConfig()
