"""Real JDBC connector path (S6 ClickHouse-analog, executable in-repo).

The reference's batch sink is a ClickHouse JDBC-style insert
(services/processing/src/connectors/clickhouse_sink.py; DDL in
services/storage/ddl.py). This module is the genuine Spark JDBC code
path — ``DataFrameWriter.jdbc`` / ``DataFrameReader.jdbc`` with
partitioned parallel reads and an idempotent streaming upsert — wired
here against the Apache Derby embedded engine that ships in Spark's
jars (no external service in this container). Swapping the URL/driver
for ClickHouse's JDBC driver is a config change; every other line is
the production path.

Scale notes (1000-executor reality, not local[32]):

- WRITES fan out per partition: each task opens its own connection and
  inserts its partition (``batchsize`` rows per round trip). Use
  ``df.repartition(n)`` to match the sink's ingest parallelism.
- READS are single-stream unless partitioned: always pass
  ``partition_column/lower/upper/num_partitions`` for big tables so
  each executor reads a bounded slice with its own WHERE range.
- The streaming upsert deletes the micro-batch's window keys then
  appends — replays converge (exactly-once EFFECT per window key, X5)
  without requiring sink transactions, same discipline as the parquet
  dynamic-partition-overwrite sink in streaming/sinks.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_dir: str) -> str:
    """Embedded-Derby JDBC URL (single-JVM — the in-container stand-in
    for the ClickHouse service URL)."""
    return f"jdbc:derby:{db_dir};create=true"


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    driver: str = DERBY_DRIVER,
    batchsize: int = 1000,
    num_partitions: int | None = None,
) -> None:
    """Batch JDBC sink: per-partition parallel INSERTs."""
    if num_partitions is not None:
        df = df.repartition(num_partitions)
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("batchsize", str(batchsize))
        .mode(mode)
        .save()
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str = DERBY_DRIVER,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC source; with bounds it becomes a PARALLEL read — one WHERE
    range per partition, the only JDBC read shape that scales."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 4))
        )
    return reader.load()


def _jdbc_execute(
    spark: SparkSession, url: str, sql: str
) -> tuple[bool, str]:
    """Run one DDL/DML statement through the JVM's DriverManager
    (driver-side; used only for bounded serving-table maintenance).
    Returns (ok, error_message) — callers must decide which failures
    are benign (a missing table on the first micro-batch) and which
    are correctness bugs (anything else: a silently failed DELETE
    breaks the upsert's idempotence, see the round-6 quoting bug)."""
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
            return True, ""
        finally:
            stmt.close()
    except Exception as e:  # noqa: BLE001 — JVM exceptions surface here
        return False, str(e)
    finally:
        conn.close()


def foreach_batch_jdbc_upsert(
    url: str,
    table: str,
    key_col: str,
    driver: str = DERBY_DRIVER,
) -> Callable[[DataFrame, int], None]:
    """Streaming JDBC sink with idempotent-by-key upserts: each
    micro-batch DELETEs its own window keys, then APPENDs — a replayed
    batch converges to the same table state (X5 exactly-once effect;
    the reference's ClickHouse sink relies on ReplacingMergeTree for
    the same property, ddl.py:11-35).

    The delete key-set is the micro-batch's DISTINCT window keys —
    serving-table-sized (windows x types), never event-sized, so the
    driver-side statement stays bounded at any input scale."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        keys = [r[0] for r in batch_df.select(key_col).distinct().collect()]
        if not keys:
            return
        key_list = ", ".join(str(int(k)) for k in keys)
        # the key column MUST be quoted: Spark's JDBC writer creates
        # case-sensitive quoted columns, so an unquoted reference folds
        # to uppercase and fails — and a swallowed DELETE failure
        # silently breaks replay idempotence. An unquoted key fails
        # test_streaming_jdbc_upsert_idempotent_replay and
        # test_streaming_jdbc_upsert_kill_restart_exactly_once. The
        # table name stays UNquoted — Spark emits it verbatim into
        # CREATE TABLE, so the folded form is the real identifier.
        ok, err = _jdbc_execute(
            spark,
            url,
            f'DELETE FROM {table} WHERE "{key_col}" IN ({key_list})',
        )
        if not ok and "does not exist" not in err:
            raise RuntimeError(f"upsert DELETE failed on {table}: {err}")
        write_jdbc(batch_df, url, table, mode="append", driver=driver)

    return write
