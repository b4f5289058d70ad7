"""Event schemas.

Two layouts exist:

1. **Wire layout** — the reference's nested JSON ``AnalyticsEvent``
   (services/ingestion/src/schemas/analytics_event.py:7-50; engine-side
   declaration services/processing/src/core/schemas/event_source.py:5-61).
   Used by the streaming JSON source (``sources/json_events.py``).

2. **Canonical engine layout** — the flat columns every operator consumes:
   ``event_id, event_time(timestamp), user_id(string), event_type(string),
   session_id(string), user_agent(string), load_time(bigint), value(double),
   props``. Both the wire layout and the driver's synthetic
   ``events.parquet`` (TESTDATA.md: event_id, ts, user_id, event_type,
   value, props) normalize into it.

Keeping normalization at the edge keeps every operator a pure function
of one schema — the same stance as the reference, which declares its
schema once at the source (event_source.py) and lets all jobs project
from it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Wire layout: mirrors event_source.py:5-61 / analytics_event.py:7-50.
ANALYTICS_EVENT_SCHEMA = StructType(
    [
        StructField(
            "event",
            StructType(
                [
                    StructField("id", StringType()),  # UUIDv7, analytics_event.py:8
                    StructField("type", StringType()),
                ]
            ),
        ),
        StructField(
            "device",
            StructType(
                [
                    StructField("user_agent", StringType()),
                    StructField("screen_width", IntegerType()),
                    StructField("screen_height", IntegerType()),
                ]
            ),
        ),
        StructField("user", StructType([StructField("id", StringType())])),
        StructField(
            "context",
            StructType(
                [
                    StructField("url", StringType()),
                    StructField("referrer", StringType()),
                    StructField("ip_address", StringType()),
                    StructField("session_id", StringType()),
                ]
            ),
        ),
        # ingestion allows str|int|float values; engine coerces to string
        # (analytics_event.py:43-45 vs event_source.py:39)
        StructField("properties", MapType(StringType(), StringType())),
        StructField(
            "metrics",
            StructType(
                [
                    StructField("load_time", LongType()),
                    StructField("interaction_time", LongType()),
                ]
            ),
        ),
        StructField("timestamp", LongType()),  # epoch-ms, analytics_event.py:47-50
    ]
)


def normalize_wire_events(df: DataFrame) -> DataFrame:
    """Nested wire rows -> canonical columns.

    Equivalent of the per-job nested projections
    (services/processing/src/jobs/event_aggregator.py:20-25,
    session_tracker.py:21-27, performance_tracker.py:20-25) plus the
    computed event-time column ``TO_TIMESTAMP_LTZ(timestamp, 3)``
    (event_source.py:50).
    """
    return df.select(
        F.col("event.id").alias("event_id"),
        F.timestamp_millis(F.col("timestamp")).alias("event_time"),
        F.col("event.type").alias("event_type"),
        F.col("user.id").alias("user_id"),
        F.col("context.session_id").alias("session_id"),
        F.col("device.user_agent").alias("user_agent"),
        F.col("metrics.load_time").alias("load_time"),
        F.col("metrics.load_time").cast("double").alias("value"),
        F.col("properties").alias("props"),
    )


def normalize_testdata_events(df: DataFrame) -> DataFrame:
    """Driver testdata layout (event_id, ts, user_id, event_type, value,
    props) -> canonical columns.

    The synthetic table has no session/device/load_time columns, so:
    - ``session_id`` := user_id (sessionization then derives real
      sessions from time gaps, reference session gap semantics intact);
    - ``user_agent`` := null (device categorization yields its
      ``otherwise`` bucket "Desktop", device_categorizer.py:11);
    - ``load_time`` := value in ms resolution (performance metrics use
      the double ``value`` directly).

    ``ts`` has arrived as TIMESTAMP(NANOS) parquet (surfaced as a
    nanos bigint under ``spark.sql.legacy.parquet.nanosAsLong``) in
    some driver testdata generations and TIMESTAMP(MICROS) (a real
    timestamp column) in others — branch on the runtime type;
    truncating div 1000 on the nanos form matches DuckDB's ns→µs
    handling. A third flavor exists in a *virgin* Spark 4 session:
    ``inferTimestampNTZ.enabled`` defaults true, so the column arrives
    as TIMESTAMP_NTZ — cast to TIMESTAMP (lossless under the enforced
    UTC session timezone) so epoch functions apply.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    ts = F.col("ts")
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # integer DIV — float division would lose precision at ns scale
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    elif isinstance(dt, TimestampNTZType):
        ts = F.col("ts").cast("timestamp")
    return df.select(
        F.col("event_id").cast("string").alias("event_id"),
        ts.alias("event_time"),
        F.col("event_type"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("user_id").cast("string").alias("session_id"),
        F.lit(None).cast("string").alias("user_agent"),
        F.col("value").cast("long").alias("load_time"),
        F.col("value"),
        F.col("props"),
    )


def raw_ts_ms(df: DataFrame) -> Column:
    """Epoch-ms bigint from the RAW testdata ``ts`` column, whichever
    physical flavor this testdata generation uses (nanos bigint via
    nanosAsLong, a TIMESTAMP_NTZ column in a virgin Spark 4 session
    where inferTimestampNTZ is still on, or a timestamp column).
    Integer DIV on the nanos form — float division would lose
    precision at ns scale. The NTZ cast is lossless under the
    enforced UTC session timezone (tune_session)."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return F.expr("ts DIV 1000000")
    if isinstance(dt, TimestampNTZType):
        return F.unix_millis(F.col("ts").cast("timestamp"))
    return F.unix_millis("ts")


def raw_ts(df: DataFrame) -> Column:
    """Proper TIMESTAMP from the RAW testdata ``ts`` column under
    either physical flavor (nanos-bigint generations truncate to
    micros with integer DIV, matching DuckDB's ns handling; timestamp
    generations pass through). Use this — never ``ts.cast("timestamp")``,
    which would misread a nanos bigint as epoch SECONDS — in any gated
    query that reads events.parquet directly instead of via
    load_events. TIMESTAMP_NTZ (virgin Spark 4 session, inferNTZ on)
    casts losslessly to TIMESTAMP under the enforced UTC session TZ."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return F.timestamp_micros(F.expr("ts DIV 1000"))
    if isinstance(dt, TimestampNTZType):
        return F.col("ts").cast("timestamp")
    return F.col("ts")


def ms(col: Column | str) -> Column:
    """Timestamp -> epoch milliseconds (bigint), the engine's exchange
    format for window boundaries (deterministic across engines/TZs)."""
    return F.unix_millis(F.col(col) if isinstance(col, str) else col)
