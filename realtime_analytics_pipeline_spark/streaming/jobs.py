"""Structured Streaming wrappers around the batch operators.

Reference parity (SURVEY §2.1, §2.4, §2.5):

- S1-S3: Kafka JSON source with declared schema, lenient parse,
  event-time + watermark (kafka_source.py:6-19, event_source.py:50-57)
- W1-W3: the same windowed aggregations as batch — operators are pure
  ``DataFrame -> DataFrame`` so ``readStream`` swaps in directly
- X1/X3: three independent ``writeStream`` queries, one checkpoint
  each (vs Flink's StatementSet, job_coordinator.py:66-77 — Spark
  idiom is per-query checkpoints)
- W5: late rows beyond the watermark are dropped by the streaming
  aggregation, matching Flink's no-allowed-lateness configuration
- W6 (idle-source timeout) has no Spark knob; Spark's watermark is
  global-min across partitions — documented known difference.

The streaming file source splits input into per-file micro-batches;
``availableNow`` lets the same graph run to completion on finite data
(used by tests and the gated parity query).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from realtime_analytics_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig
from realtime_analytics_pipeline_spark.schema import (
    ANALYTICS_EVENT_SCHEMA,
    normalize_testdata_events,
    normalize_wire_events,
)
from realtime_analytics_pipeline_spark.session import tune_session

# testdata events.parquet layout. The driver has regenerated testdata
# with different `ts` physical encodings across rounds — TIMESTAMP(NANOS)
# (surfaced as a nanos bigint under spark.sql.legacy.parquet.nanosAsLong)
# and TIMESTAMP(MICROS) (surfaced as a timestamp) have both been
# observed — so the stream source must NOT hardcode the ts type: it is
# inferred from the actual files (see read_events_stream_from_dir) and
# normalize_testdata_events branches on the runtime type.
TESTDATA_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def configure_state_store(
    spark: SparkSession, config: EngineConfig = DEFAULT_CONFIG
) -> SparkSession:
    """Select the streaming state store backend per config.

    ``state_store_provider`` is read at QUERY START (it is baked into
    the checkpoint's offset metadata) — call before ``start()``; an
    existing checkpoint keeps whatever provider it began with.
    RocksDB is the large-state choice: session windows and exact
    distinct hold per-key state proportional to active keys, and the
    default provider keeps all of it in executor heap.
    """
    if config.state_store_provider:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            config.state_store_provider,
        )
    return spark


# (applicationId, realpath, mtime_ns) -> inferred schema.
# Every gated streaming replay calls read_events_stream_from_dir, and
# the footer-only schema inference is a full batch-read job — ~0.1-0.3 s
# of fixed machinery PER REP across 8+ streaming headliners (r13,
# guide §1.2 "don't compute things you throw away"). The key carries
# the file's mtime so a rewritten fixture re-infers; the memo dies
# with the process (no cross-run persistence).
_STREAM_SRC_MEMO: dict[tuple, StructType] = {}


def read_events_stream_from_dir(
    spark: SparkSession,
    directory: str,
    watermark: str | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """File-based streaming source over testdata-layout parquet (a
    directory, or a single file).

    One micro-batch per file by default — write the fixture with
    multiple files to exercise multi-batch watermark progression.
    """
    tune_session(spark)
    try:
        st = os.stat(directory)
        key = (
            spark.sparkContext.applicationId,
            os.path.realpath(directory),
            st.st_mtime_ns,
        )
    except OSError:
        key = None
    file_schema = _STREAM_SRC_MEMO.get(key) if key is not None else None
    if file_schema is None:
        # infer the schema from the files themselves (footer-only batch
        # read): `ts` may be a nanos bigint, an INT64 timestamp, or an
        # INT96 timestamp (Spark-rewritten fixtures) depending on which
        # writer produced the directory — a hardcoded LongType would
        # either fail the vectorized read (INT96 vs bigint) or silently
        # misinterpret micros as nanos downstream.
        file_schema = spark.read.parquet(directory).schema
        if key is not None:
            if len(_STREAM_SRC_MEMO) >= 32:  # sweeps over many slices
                _STREAM_SRC_MEMO.pop(next(iter(_STREAM_SRC_MEMO)))
            _STREAM_SRC_MEMO[key] = file_schema
    reader = spark.readStream.schema(file_schema).option("maxFilesPerTrigger", 1)
    if os.path.isfile(directory):
        # the file source only reads directories: read the file's own
        # directory, filtered to its name
        reader = reader.option("pathGlobFilter", os.path.basename(directory))
        directory = os.path.dirname(directory)
    raw = reader.parquet(directory)
    events = normalize_testdata_events(raw)
    return events.withWatermark(
        "event_time", watermark or config.watermark_delay
    )


def read_events_stream_from_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "analytics_events",
    starting_offsets: str = "earliest",
    watermark: str | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Production source: Kafka topic of nested JSON events.

    Parity with kafka_source.py:6-19 — declared schema, earliest
    offsets, lenient JSON (from_json PERMISSIVE nulls malformed
    fields, corrupt rows dropped via event-id null filter). Requires
    the spark-sql-kafka connector on the classpath (not present in the
    test container — construction is covered by parity of the parse
    chain, exercised via ``parse_wire_json`` below).
    """
    tune_session(spark)
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_wire_json(raw, watermark or config.watermark_delay)


def parse_wire_json(raw: DataFrame, watermark: str) -> DataFrame:
    """value bytes -> canonical event columns (shared by Kafka source
    and any file/socket JSON transport)."""
    # The generator keeps the parse in one place: through a plain
    # projection Catalyst pushes each job's filters (event_id, event
    # type, load time) down as their own pruned from_json calls and
    # then parses the row again for the projection.
    parsed = raw.select(
        F.inline(
            F.array(
                F.from_json(F.col("value").cast("string"), ANALYTICS_EVENT_SCHEMA)
            )
        )
    )
    events = normalize_wire_events(parsed)
    # lenient-parse semantics: drop rows whose envelope failed to parse
    return events.where(F.col("event_id").isNotNull()).withWatermark(
        "event_time", watermark
    )


_sink_ids = itertools.count()


def run_to_memory_table(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a (finite) streaming DataFrame to completion into a
    memory sink via availableNow and return the result — the replay
    harness of the gated streaming queries and the tests.

    The sink's temp view is dropped before returning: the frame keeps
    its own reference to the sink, so it (and every frame derived from
    it) still reads the same rows, while the catalog holds nothing and
    the rows are freed once the caller lets go of the frame."""
    spark = df.sparkSession
    name = f"replay_{os.getpid()}_{next(_sink_ids)}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
