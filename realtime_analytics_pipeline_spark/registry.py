"""Gated query registry: Spark queries + DuckDB oracle SQL pairs.

Conventions that make the cross-engine comparison deterministic:

- window/time boundaries are emitted as epoch-ms BIGINT (``*_ms`` /
  ms-valued ``duration``) — immune to TZ/typing differences between
  Spark and DuckDB;
- floating-point aggregates are rounded to 6 decimals on BOTH sides
  (partial-aggregation order differs between engines; raw doubles can
  differ in the last ULP);
- every computed column is aliased identically in both engines.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.config import DEFAULT_CONFIG
from realtime_analytics_pipeline_spark.operators.event_metrics import event_metrics
from realtime_analytics_pipeline_spark.operators.performance_metrics import (
    performance_metrics,
)
from realtime_analytics_pipeline_spark.operators.session_metrics import (
    session_metrics,
    session_metrics_by_lag,
)
from realtime_analytics_pipeline_spark.operators import serving
from realtime_analytics_pipeline_spark.sources.batch import load_events

ALLOWED = list(DEFAULT_CONFIG.allowed_event_types)
_ALLOWED_SQL = ", ".join(f"'{t}'" for t in ALLOWED)

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Register a gated query. The stored callable self-tunes the
    session (UTC, nanosAsLong, inferTimestampNTZ=false, AQE) BEFORE the
    query body runs, so no query's correctness depends on its position
    in the driver's run order — a virgin driver-owned SparkSession must
    see the same parquet type flavors as one where 200 queries already
    ran (the round-5 `http_ingestion_roundtrip` TIMESTAMP_NTZ trap)."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def tuned(spark: SparkSession, sf_dir: str, *a, **kw) -> DataFrame:
            from realtime_analytics_pipeline_spark.session import tune_session

            tune_session(spark)
            return fn(spark, sf_dir, *a, **kw)

        # a duplicate name would SILENTLY replace an existing (possibly
        # in-window) query — round 6 shipped exactly that bug for a few
        # hours (orders_cohort_ltv). Fail at import instead.
        if name in QUERIES:
            raise ValueError(f"duplicate gated query name: {name}")
        QUERIES[name] = tuned
        if oracle is not None:
            ORACLES[name] = oracle
        return tuned

    return deco


def _win_ms(df: DataFrame) -> DataFrame:
    """timestamp window bounds -> epoch-ms bigints."""
    return df.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        F.unix_millis("window_end").alias("window_end_ms"),
        *[c for c in df.columns if c not in ("window_start", "window_end")],
    )


# --------------------------------------------------------------------------
# Reference surface: EventAggregator (SURVEY §2 W1, A1, A2, P4)
# --------------------------------------------------------------------------

_EVENT_METRICS_SQL = f"""
SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
       (epoch_ms(ts) // 60000) * 60000 + 60000 AS window_end_ms,
       event_type,
       count(*) AS event_count,
       count(DISTINCT user_id) AS user_count
FROM events
WHERE event_type IN ({_ALLOWED_SQL})
GROUP BY 1, 2, 3
"""


@register("event_metrics_1m", _EVENT_METRICS_SQL)
def q_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _win_ms(event_metrics(load_events(spark, sf_dir)))


# --------------------------------------------------------------------------
# Reference surface: PerformanceTracker (W2, A3, A4, P6, P3)
# --------------------------------------------------------------------------

_PERF_METRICS_SQL = """
SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms,
       (epoch_ms(ts) // 300000) * 300000 + 300000 AS window_end_ms,
       event_type AS device_category,
       round(avg(value), 6) AS avg_load_time,
       round(quantile_cont(value, 0.95), 6) AS p95_load_time
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2, 3
"""


@register("performance_metrics_5m", _PERF_METRICS_SQL)
def q_performance_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = performance_metrics(load_events(spark, sf_dir))
    return _win_ms(df).select(
        "window_start_ms",
        "window_end_ms",
        "device_category",
        F.round("avg_load_time", 6).alias("avg_load_time"),
        F.round("p95_load_time", 6).alias("p95_load_time"),
    )


# --------------------------------------------------------------------------
# Reference surface: SessionTracker (W3, A5, A6, P8)
# --------------------------------------------------------------------------

_SESSION_SQL = """
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
    SELECT user_id, ts,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
)
SELECT CAST(user_id AS VARCHAR) AS session_id,
       CAST(user_id AS VARCHAR) AS user_id,
       epoch_ms(min(ts)) AS start_ms,
       epoch_ms(max(ts)) AS end_ms,
       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS duration,
       count(*) AS page_count
FROM islands
GROUP BY user_id, island
"""


def _session_ms(df: DataFrame) -> DataFrame:
    return df.select(
        "session_id",
        "user_id",
        F.unix_millis("start_time").alias("start_ms"),
        F.unix_millis("end_time").alias("end_ms"),
        "duration",
        "page_count",
    )


@register("session_metrics", _SESSION_SQL)
def q_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_ms(session_metrics(load_events(spark, sf_dir)))


@register("session_metrics_lag", _SESSION_SQL)
def q_session_metrics_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gaps-and-islands twin — must equal the session_window plan exactly
    return _session_ms(session_metrics_by_lag(load_events(spark, sf_dir)))


@register("session_metrics_bucketed", _SESSION_SQL)
def q_session_metrics_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase skew-resilient sessionization (round-9): sessionize
    within (key, time-bucket), merge partials across boundaries — the
    hot-session_id mitigation, exact by construction (same oracle as
    session_metrics; boundary-straddling merges pytest-pinned)."""
    from realtime_analytics_pipeline_spark.operators.session_metrics import (
        session_metrics_bucketed,
    )

    return _session_ms(session_metrics_bucketed(load_events(spark, sf_dir)))


# --------------------------------------------------------------------------
# Serving operators T1-T6 (SURVEY §2.6)
# --------------------------------------------------------------------------


def _pivot_case_sql(agg: str, col: str, out: str) -> str:
    return f"max(CASE WHEN event_type = '{agg}' THEN {col} END) AS {out}"


_EVENT_PIVOT_SQL = (
    "WITH em AS (" + _EVENT_METRICS_SQL + ")\n"
    "SELECT window_start_ms, window_end_ms,\n       "
    + ",\n       ".join(
        _pivot_case_sql(t, c, f"{t}_{suffix}")
        for t in ALLOWED
        for c, suffix in (("event_count", "count"), ("user_count", "users"))
    )
    + "\nFROM em GROUP BY 1, 2"
)


@register("serving_event_pivot", _EVENT_PIVOT_SQL)
def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = event_metrics(load_events(spark, sf_dir))
    return _win_ms(serving.pivot_event_metrics(em, ALLOWED))


_PERF_PIVOT_SQL = (
    "WITH pm AS (" + _PERF_METRICS_SQL + ")\n"
    "SELECT window_start_ms, window_end_ms,\n       "
    + ",\n       ".join(
        f"max(CASE WHEN device_category = '{c}' THEN {m} END) AS {c}_{m}"
        for c in ["view", "click", "purchase", "signup", "error"]
        for m in ("avg_load_time", "p95_load_time")
    )
    + "\nFROM pm GROUP BY 1, 2"
)


@register("serving_perf_pivot", _PERF_PIVOT_SQL)
def q_perf_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    pm = performance_metrics(load_events(spark, sf_dir)).select(
        "window_start",
        "window_end",
        "device_category",
        F.round("avg_load_time", 6).alias("avg_load_time"),
        F.round("p95_load_time", 6).alias("p95_load_time"),
    )
    cats = ["view", "click", "purchase", "signup", "error"]
    return _win_ms(serving.pivot_performance_metrics(pm, cats))


_TOP_WINDOWS_SQL = (
    "WITH ep AS (" + _EVENT_PIVOT_SQL + ")\n"
    "SELECT * FROM ep ORDER BY window_start_ms DESC LIMIT 20"
)


@register("serving_top_windows", _TOP_WINDOWS_SQL)
def q_top_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T3: newest 20 pivoted event windows (API limit default 20)
    em = event_metrics(load_events(spark, sf_dir))
    pivot = _win_ms(serving.pivot_event_metrics(em, ALLOWED))
    return serving.top_n_windows(pivot, 20, time_col="window_start_ms")


_RETENTION_SQL = (
    "WITH em AS (" + _EVENT_METRICS_SQL + "),\n"
    "ranked AS (SELECT *, row_number() OVER ("
    "PARTITION BY event_type ORDER BY window_start_ms DESC) AS rn FROM em)\n"
    "SELECT window_start_ms, window_end_ms, event_type, event_count, user_count\n"
    "FROM ranked WHERE rn <= 120"
)


@register("serving_retention", _RETENTION_SQL)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T5: newest 120 windows per metric key (retention count, cache config.py:23)
    em = _win_ms(event_metrics(load_events(spark, sf_dir)))
    return serving.retention_trim(
        em, 120, time_col="window_start_ms", partition_cols=["event_type"]
    )


_OVERVIEW_SQL = (
    "WITH ep AS (" + _EVENT_PIVOT_SQL + "),\n"
    "pp AS (" + _PERF_PIVOT_SQL + "),\n"
    "ev AS (SELECT window_start_ms AS event_window_start_ms, "
    + ", ".join(
        f"{t}_{s} AS event_{t}_{s}"
        for t in ALLOWED
        for s in ("count", "users")
    )
    + " FROM ep ORDER BY window_start_ms DESC LIMIT 1),\n"
    "pf AS (SELECT window_start_ms AS perf_window_start_ms, "
    + ", ".join(
        f"{c}_{m} AS perf_{c}_{m}"
        for c in ["view", "click", "purchase", "signup", "error"]
        for m in ("avg_load_time", "p95_load_time")
    )
    + " FROM pp ORDER BY window_start_ms DESC LIMIT 1)\n"
    "SELECT * FROM ev CROSS JOIN pf"
)


@register("serving_overview", _OVERVIEW_SQL)
def q_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T6: latest event + latest perf snapshot in one row
    events = load_events(spark, sf_dir)
    ep = _win_ms(serving.pivot_event_metrics(event_metrics(events), ALLOWED))
    pm = performance_metrics(events).select(
        "window_start",
        "window_end",
        "device_category",
        F.round("avg_load_time", 6).alias("avg_load_time"),
        F.round("p95_load_time", 6).alias("p95_load_time"),
    )
    cats = ["view", "click", "purchase", "signup", "error"]
    pp = _win_ms(serving.pivot_performance_metrics(pm, cats))
    ev = serving.top_n_windows(ep, 1, "window_start_ms").select(
        F.col("window_start_ms").alias("event_window_start_ms"),
        *[
            F.col(f"{t}_{s}").alias(f"event_{t}_{s}")
            for t in ALLOWED
            for s in ("count", "users")
        ],
    )
    pf = serving.top_n_windows(pp, 1, "window_start_ms").select(
        F.col("window_start_ms").alias("perf_window_start_ms"),
        *[
            F.col(f"{c}_{m}").alias(f"perf_{c}_{m}")
            for c in cats
            for m in ("avg_load_time", "p95_load_time")
        ],
    )
    return ev.crossJoin(pf)


# --------------------------------------------------------------------------
# Projection / filter smoke (P1, P4, P5, P6 composition)
# --------------------------------------------------------------------------

_PROJECTION_SQL = f"""
SELECT CAST(event_id AS VARCHAR) AS event_id,
       epoch_ms(ts) AS event_ms,
       event_type,
       CAST(user_id AS VARCHAR) AS user_id,
       round(value, 6) AS value
FROM events
WHERE event_type IN ({_ALLOWED_SQL}) AND value IS NOT NULL AND value > 5.0
"""


@register("events_projection_filter", _PROJECTION_SQL)
def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.where(
            F.col("event_type").isin(ALLOWED)
            & F.col("value").isNotNull()
            & (F.col("value") > 5.0)
        )
        .select(
            "event_id",
            F.unix_millis("event_time").alias("event_ms"),
            "event_type",
            "user_id",
            F.round("value", 6).alias("value"),
        )
    )


# --------------------------------------------------------------------------
# Plugin registration (import side effects). Bottom of module so the
# shared dicts and register() exist when submodules import them.
# --------------------------------------------------------------------------

from realtime_analytics_pipeline_spark import registry_relational  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_docs  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_streaming  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_multimodal  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_parity  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_analytics  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_curation  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_feed  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_sql_features  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_jdbc  # noqa: E402,F401
from realtime_analytics_pipeline_spark import registry_formats  # noqa: E402,F401


# --------------------------------------------------------------------------
# Verification-window ordering.
#
# The driver oracle-checks the FIRST 50 registered queries; the rest run
# under the (type-exact) local gate replica and pytest only.  More than 50
# queries carry oracles, so registration order is an explicit policy:
#
#   1. _VERIFY_WINDOW — the ≤50 names whose hard driver evidence matters
#      most this round: queries never driver-verified before, queries new
#      this round, and the core reference-surface anchors.
#   2. remaining oracled queries — pytest-pinned twins of in-window queries
#      (e.g. session_metrics_lag == session_metrics by construction) or
#      queries already driver-green in an earlier CORRECTNESS_r{N}.json.
#   3. oracle-less sketches (LSH/IVF/approx) — rows-only either way.
#
# Names listed here but not (yet) registered are skipped, so the list can
# carry the full round plan while queries land incrementally.
# --------------------------------------------------------------------------

_VERIFY_WINDOW = [
    # ROUND 13 window (propose_window.py --refresh output pasted
    # verbatim, VERDICT r12 item 5): all 324 previously-oracled names
    # are driver-certified, so the single round-13 virgin
    # (dedup_incremental_minhash_stored) leads and the remaining
    # slots re-verify the OLDEST greens (r1-r4 era). Manually
    # promoted behind the virgin: the five queries whose OUTPUTS
    # changed this round (fixed-size sample caps — knn 400-query cap
    # binds at sf0.01; the other four caps bind only at scale SFs
    # but the sample rule changed) — their old driver rows describe
    # the pre-cap form, so they re-certify first; the five OLDEST
    # re-verification slots were dropped to make room.
    "dedup_incremental_minhash_stored",  # registry_docs
    "emb_knn_label_accuracy",  # registry_docs (re-capped r13)
    "emb_pair_cosine_hist",  # registry_docs (re-capped r13)
    "dedup_minhash_calibration",  # registry_docs (re-capped r13)
    "dedup_modality_agreement",  # registry_docs (re-capped r13)
    "dedup_threshold_sweep",  # registry_docs (re-capped r13)
    "orders_decimal_money",  # registry_analytics
    "orders_changepoint_cusum",  # registry_analytics
    "sessions_cep_conversion",  # registry_analytics
    "events_ab_cuped",  # registry_analytics
    "orders_forecast_backtest",  # registry_analytics
    "events_mann_whitney",  # registry_analytics
    "events_ab_srm_check",  # registry_analytics
    "events_ab_did",  # registry_analytics
    "events_hourly_anomaly_stl",  # registry_analytics
    "events_bootstrap_ci",  # registry_analytics
    "events_hbos_outliers",  # registry_analytics
    "dedup_graph_pagerank",  # registry_curation
    "customers_cdc_merge",  # registry_curation
    "events_nullsafe_bucket_join",  # registry_curation
    "basket_graph_triangles",  # registry_curation
    "orders_snapshot_diff",  # registry_curation
    "docs_blocklist_filter",  # registry_curation
    "streaming_feed_windows",  # registry_feed
    "orders_monthly_spine_recursive",  # registry_sql_features
    "events_props_variant",  # registry_sql_features
    "sessions_udtf",  # registry_sql_features
    "events_xml_roundtrip",  # registry_sql_features
    "orders_lateral_top3",  # registry_sql_features
    "sql_pipe_demo",  # registry_sql_features
    "jdbc_metrics_roundtrip",  # registry_jdbc
    "customers_fuzzy_name_pairs",  # registry_relational
    "revenue_share_hierarchy",  # registry_relational
    "orders_rolling_aov_28d",  # registry_relational
    "orders_shipping_delay_stats",  # registry_relational
    "orders_cohort_ltv",  # registry_relational
    "orders_seasonal_index",  # registry_relational
    "suppliers_nation_hhi",  # registry_relational
    "customers_abc_classification",  # registry_relational
    "parts_price_elasticity",  # registry_relational
    "nations_trade_balance",  # registry_relational
    "sample_docs_hash",  # registry_docs
    "sample_docs_stratified",  # registry_docs
    "train_eval_split",  # registry_docs
    "pipeline_quality_dedup_sample",  # registry_docs
    "source_mixing_weights",  # registry_docs
    "pipeline_decontaminated_corpus",  # registry_docs
    "text_dup_ngram_fraction",  # registry_docs
    "text_boilerplate_chunks",  # registry_docs
    "docs_zipf_fit",  # registry_docs
    # (docs_pmi_collocations, docs_winnowing_fingerprints,
    #  docs_winnowing_overlap, docs_winnowing_fingerprints_kernel,
    #  streaming_interval_join dropped — displaced by the five
    #  re-capped queries above; they stay fresher-green from r4-r6
    #  rows and the full replica re-verifies them every round)
    # --- pool note (machine-generated by propose_window.py) ---
    # Oracled: 325. Driver-green (CORRECTNESS_r*): 324. Never-driver-verified: 1.
    # Refresh window: 1 virgin + 49 oldest-green re-verification slots; the 275 fresher greens keep their rows.
]


def _apply_verify_window() -> None:
    assert len(_VERIFY_WINDOW) <= 50, "driver verifies only the first 50"
    ordered: dict[str, QueryFn] = {}
    for name in _VERIFY_WINDOW:
        if name in QUERIES:
            ordered[name] = QUERIES[name]
    # then: previously-verified / pytest-pinned oracled queries, in
    # original registration order
    for name, fn in QUERIES.items():
        if name not in ordered and name in ORACLES:
            ordered[name] = fn
    # finally: oracle-less sketches
    for name, fn in QUERIES.items():
        if name not in ordered:
            ordered[name] = fn
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_verify_window()
