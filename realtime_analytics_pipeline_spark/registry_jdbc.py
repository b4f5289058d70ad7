"""Gated query: the REAL JDBC connector path, end-to-end.

The reference's batch sink inserts windowed metrics into ClickHouse
over its wire protocol (services/processing/src/connectors/
clickhouse_sink.py; table DDL services/storage/ddl.py:11-35) and the
serving layer reads them back. This module puts the genuine Spark JDBC
code path — ``DataFrameWriter.jdbc`` with per-partition parallel
INSERTs, then ``DataFrameReader.jdbc`` with a partitioned range read —
under the driver's DuckDB oracle, wired to the Apache Derby embedded
engine that ships in Spark's jars (no external service exists in this
container; swapping the URL/driver string for ClickHouse's is a config
change, every other line is the production path).

The oracle can't see the round trip: if any value, type, or row is
mangled by the SQL-engine hop (string→CLOB mapping, BIGINT width,
NULL handling), the value-hash goes red. That is the point — the same
discipline the parquet-sink queries use, applied to the JDBC surface.
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators.event_metrics import (
    event_metrics,
)
from realtime_analytics_pipeline_spark.registry import ALLOWED, register
from realtime_analytics_pipeline_spark.sources.batch import load_events
from realtime_analytics_pipeline_spark.sources.jdbc import (
    derby_url,
    read_jdbc,
    write_jdbc,
)

_ALLOWED_SQL = ", ".join(f"'{t}'" for t in ALLOWED)

_JDBC_ROUNDTRIP_SQL = f"""
SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
       event_type,
       count(*) AS event_count,
       count(DISTINCT user_id) AS user_count
FROM events
WHERE event_type IN ({_ALLOWED_SQL})
GROUP BY 1, 2
"""

_call = itertools.count()


@register("jdbc_metrics_roundtrip", _JDBC_ROUNDTRIP_SQL)
def q_jdbc_metrics_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute event metrics written INTO an embedded-Derby table via
    per-partition parallel JDBC INSERTs, then read BACK via a
    range-partitioned JDBC scan (one WHERE slice per task — the only
    JDBC read shape that scales), compared against the direct
    computation by the oracle. A fresh database directory per call
    keeps the query deterministic and re-runnable."""
    db_dir = tempfile.mkdtemp(prefix=f"rtap_jdbc_{next(_call)}_")
    url = derby_url(f"{db_dir}/db")
    em = event_metrics(load_events(spark, sf_dir)).select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "event_count",
        "user_count",
    )
    write_jdbc(em, url, "event_metrics", num_partitions=4)
    bounds = em.agg(
        F.min("window_start_ms").alias("lo"), F.max("window_start_ms").alias("hi")
    ).first()
    if bounds["lo"] is None:
        # empty metrics slice (no allowed event types): a partitioned
        # read has no bounds to slice on — fall back to a single-task
        # scan of the (empty) table instead of raising on None + 1
        back = read_jdbc(spark, url, "event_metrics")
    else:
        back = read_jdbc(
            spark,
            url,
            "event_metrics",
            partition_column="window_start_ms",
            lower_bound=bounds["lo"],
            upper_bound=bounds["hi"] + 1,
            num_partitions=4,
        )
    return back.select(
        F.col("window_start_ms").cast("bigint").alias("window_start_ms"),
        "event_type",
        F.col("event_count").cast("bigint").alias("event_count"),
        F.col("user_count").cast("bigint").alias("user_count"),
    )


_STREAM_JDBC_SQL = f"""
WITH em AS (
    SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           event_type,
           count(*) AS event_count,
           count(DISTINCT user_id) AS user_count
    FROM events
    WHERE event_type IN ({_ALLOWED_SQL})
    GROUP BY 1, 2
)
SELECT * FROM em
WHERE window_start_ms + 60000 <=
      (SELECT max(epoch_ms(ts)) FROM events) - 70000
"""


@register("streaming_jdbc_upsert", _STREAM_JDBC_SQL)
def q_streaming_jdbc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full write path under the oracle: a REAL
    Structured Streaming job (file micro-batches → watermark → chained
    stateful aggregation, append mode) delivering finalized windows
    through the idempotent JDBC upsert sink
    (sources/jdbc.py::foreach_batch_jdbc_upsert — the delete-then-
    append discipline the reference's ClickHouse sink gets from
    ReplacingMergeTree, ddl.py:11-35) into embedded Derby, read back
    over JDBC. Oracle = the batch SQL restricted to the finalized set
    (window_end ≤ max event time − 10 s watermark − 60 s window, the
    empirically pinned chained-stateful emission law). Fresh database
    + checkpoint per call keeps it deterministic and replayable."""
    import os as _os

    from realtime_analytics_pipeline_spark.operators.event_metrics import (
        event_metrics_exact_streaming,
    )
    from realtime_analytics_pipeline_spark.sources.jdbc import (
        foreach_batch_jdbc_upsert,
    )
    from realtime_analytics_pipeline_spark.streaming.jobs import (
        read_events_stream_from_dir,
    )

    work = tempfile.mkdtemp(prefix=f"rtap_sjdbc_{next(_call)}_")
    url = derby_url(f"{work}/db")
    stream = read_events_stream_from_dir(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    em = event_metrics_exact_streaming(stream).select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "event_count",
        "user_count",
    )
    q = (
        em.writeStream.outputMode("append")
        .foreachBatch(
            foreach_batch_jdbc_upsert(url, "event_metrics_live", "window_start_ms")
        )
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = read_jdbc(spark, url, "event_metrics_live")
    # restrict to the replay-shape-independent finalization core: a
    # chained stateful agg emits one window MORE on a multi-file
    # replay than on the driver's single-file one (round-12, caught by
    # the sf0.3 scale gate — same fix as streaming_event_metrics)
    from realtime_analytics_pipeline_spark.registry_streaming import (
        _finalized_core,
    )

    back = _finalized_core(
        spark,
        sf_dir,
        back.withColumn(
            "_end_ms", F.col("window_start_ms").cast("bigint") + 60000
        ),
        end_col="_end_ms",
    ).drop("_end_ms")
    return back.select(
        F.col("window_start_ms").cast("bigint").alias("window_start_ms"),
        "event_type",
        F.col("event_count").cast("bigint").alias("event_count"),
        F.col("user_count").cast("bigint").alias("user_count"),
    )
