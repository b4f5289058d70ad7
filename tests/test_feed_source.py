"""Custom Python Data Source (rtap_feed): the broker-free Kafka analog.

Covers the full source/sink contract the reference gets from Kafka
(kafka_source.py:6-19, kafka_sink.py:10-46): partitioned parallel batch
scan with filter pushdown + row-group pruning, offset-tracked streaming
reads over a growing log with exactly-once checkpoint restart, and a
two-phase epoch-commit streaming sink.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, StringContains

from realtime_analytics_pipeline_spark.sources.feed import (
    FeedBatchReader,
    FeedStreamWriter,
    _plan_partitions,
    _StagedFile,
    read_committed,
    register_feed_source,
)

from tests.conftest import SF_CORRECTNESS, SF_SMOKE

EVENTS_SMOKE = f"{SF_SMOKE}/events.parquet"
EVENTS_SF001 = f"{SF_CORRECTNESS}/events.parquet"


@pytest.fixture()
def feed(spark):
    register_feed_source(spark)
    return spark


def _feed_df(spark, path, **options):
    r = spark.read.format("rtap_feed").option("path", path)
    for k, v in options.items():
        r = r.option(k, str(v))
    return r.load()


# -- batch scan ------------------------------------------------------------


def test_batch_scan_equals_parquet(feed):
    got = sorted(map(tuple, _feed_df(feed, EVENTS_SMOKE).collect()))
    ref = sorted(map(tuple, feed.read.parquet(EVENTS_SMOKE).collect()))
    assert got == ref


def test_batch_scan_parallelism_from_range_split(feed):
    # one file, one row group — the planner must still fan out
    df = _feed_df(feed, EVENTS_SF001, parallelism=8)
    assert df.rdd.getNumPartitions() >= 4
    assert df.count() == 10000


def test_filter_pushdown_correctness(feed):
    base = _feed_df(feed, EVENTS_SF001)
    ref = feed.read.parquet(EVENTS_SF001)
    for cond in (
        F.col("event_type") == "purchase",
        F.col("value") > 50.0,
        F.col("event_type").isin("view", "click"),
        F.col("props").contains("android"),  # unsupported -> Spark-side
    ):
        a = base.filter(cond).agg(
            F.count("*").alias("c"), F.round(F.sum("value"), 6).alias("s")
        ).collect()
        b = ref.filter(cond).agg(
            F.count("*").alias("c"), F.round(F.sum("value"), 6).alias("s")
        ).collect()
        assert a == b, str(cond)


def test_push_filters_split_supported_unsupported():
    reader = FeedBatchReader({"path": EVENTS_SMOKE})
    unsupported = list(
        reader.pushFilters(
            [
                EqualTo(("event_type",), "purchase"),
                GreaterThan(("value",), 10.0),
                StringContains(("props",), "android"),  # no arrow expr
                EqualTo(("a", "b"), 1),  # nested: stays in Spark
            ]
        )
    )
    assert len(reader.pushedFilters()) == 2
    assert len(unsupported) == 2


def test_row_group_pruning_from_footer_stats(tmp_path):
    # two row groups with disjoint value ranges -> an EqualTo outside a
    # group's [min,max] must prune that group at PLANNING time
    import pyarrow as pa

    t1 = pa.table({"k": [1, 2, 3], "v": ["a", "a", "b"]})
    t2 = pa.table({"k": [100, 200, 300], "v": ["c", "c", "d"]})
    f = str(tmp_path / "two_groups.parquet")
    writer = pq.ParquetWriter(f, t1.schema)
    writer.write_table(t1)
    writer.write_table(t2)
    writer.close()
    assert pq.ParquetFile(f).metadata.num_row_groups == 2

    all_parts = _plan_partitions(f, 1, [])
    assert len(all_parts) == 2
    pruned = _plan_partitions(f, 1, [EqualTo(("k",), 50)])
    assert pruned == []  # 50 outside both [1,3] and [100,300]
    one = _plan_partitions(f, 1, [GreaterThan(("k",), 50)])
    assert len(one) == 1 and one[0].row_group == 1


# -- streaming read + epoch-commit sink ------------------------------------


def _wait(predicate, timeout=90.0):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if predicate():
            return True
        time.sleep(0.4)
    return False


def _committed_count(spark, sink):
    try:
        return read_committed(spark, sink).count()
    except FileNotFoundError:
        return 0


def test_stream_growing_log_exactly_once_restart(feed, tmp_path):
    src = str(tmp_path / "log")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    shutil.copy(EVENTS_SMOKE, os.path.join(src, "a.parquet"))

    def start():
        return (
            feed.readStream.format("rtap_feed")
            .option("path", src)
            .option("batch_rows", "300")
            .load()
            .writeStream.format("rtap_feed")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    q = start()
    try:
        assert _wait(lambda: _committed_count(feed, sink) == 1000)
        # grow the log while the query runs -> picked up next trigger
        shutil.copy(EVENTS_SMOKE, os.path.join(src, "b.parquet"))
        assert _wait(lambda: _committed_count(feed, sink) == 2000)
    finally:
        q.stop()

    # restart from the same checkpoint: no replays reach the table
    q2 = start()
    try:
        time.sleep(3)
    finally:
        q2.stop()
    assert _committed_count(feed, sink) == 2000

    # bounded task sizes: every offset range spans <= batch_rows
    got = sorted(map(tuple, read_committed(feed, sink).collect()))
    want = sorted(list(map(tuple, feed.read.parquet(EVENTS_SMOKE).collect())) * 2)
    assert got == want


def test_stream_latest_offset_opens_only_new_footers(tmp_path, monkeypatch):
    """Published feed files are immutable: latestOffset reads each
    footer once, then only the footers of files added since."""
    import pyarrow as pa

    from realtime_analytics_pipeline_spark.sources.feed import FeedStreamReader

    src = tmp_path / "log"
    src.mkdir()
    t = pa.table({"x": list(range(10))})
    pq.write_table(t, src / "a.parquet")
    pq.write_table(t, src / "b.parquet")
    opened = []
    real = pq.ParquetFile

    def counting(path, *args, **kwargs):
        opened.append(os.path.basename(path))
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    reader = FeedStreamReader({"path": str(src)})
    first = reader.latestOffset()
    assert opened == ["a.parquet", "b.parquet"]
    pq.write_table(t.slice(0, 4), src / "c.parquet")
    second = reader.latestOffset()
    assert opened == ["a.parquet", "b.parquet", "c.parquet"]
    assert second == {**first, f"{src}/c.parquet#0": 4}
    os.remove(src / "a.parquet")  # a retired file leaves the offsets
    assert set(reader.latestOffset()) == set(second) - {f"{src}/a.parquet#0"}
    assert len(opened) == 3


def test_stream_results_match_batch_pipeline(feed, tmp_path):
    """The feed source composes with the normal operator pipeline."""
    src = str(tmp_path / "log")
    os.makedirs(src)
    shutil.copy(EVENTS_SMOKE, os.path.join(src, "a.parquet"))
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        feed.readStream.format("rtap_feed")
        .option("path", src)
        .load()
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("feed_counts")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: feed.sql("SELECT sum(n) AS s FROM feed_counts").collect()[0].s
            == 1000
        )
    finally:
        q.stop()
    got = {
        (r.event_type, r.n)
        for r in feed.sql("SELECT * FROM feed_counts").collect()
    }
    want = {
        (r.event_type, r.n)
        for r in feed.read.parquet(EVENTS_SMOKE)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    assert sink  # silences lint; sink dir unused in memory-sink variant


def test_epoch_commit_idempotent_replay(tmp_path):
    """A replayed epoch (manifest already published) drops its stage."""
    import pyarrow as pa

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    w = FeedStreamWriter({"path": sink})
    batch = pa.record_batch({"x": pa.array([1, 2, 3])})
    m1 = w.write(iter([batch]))
    w.commit([m1], batchId=7)
    manifest = json.load(open(os.path.join(sink, "_commits", "7.json")))
    assert manifest["rows"] == 3 and len(manifest["files"]) == 1

    # replay the same epoch: new staged file must be discarded, manifest
    # unchanged
    m2 = w.write(iter([batch]))
    w.commit([m2], batchId=7)
    again = json.load(open(os.path.join(sink, "_commits", "7.json")))
    assert again == manifest
    assert not os.listdir(os.path.join(sink, "_staging"))
    files = [f for f in os.listdir(sink) if f.endswith(".parquet")]
    assert len(files) == 1

    # abort cleans the stage without publishing
    m3 = w.write(iter([batch]))
    w.abort([m3], batchId=8)
    assert not os.path.exists(os.path.join(sink, "_commits", "8.json"))
    assert not os.listdir(os.path.join(sink, "_staging"))
    assert isinstance(m3, _StagedFile)


def test_batch_writer_snapshot_semantics(feed, tmp_path):
    """write -> read_committed roundtrip; overwrite retires the old
    snapshot atomically (manifest swap), append adds a second epoch."""
    sink = str(tmp_path / "table")
    src = feed.read.parquet(EVENTS_SMOKE)

    src.write.format("rtap_feed").option("path", sink).mode("append").save()
    assert read_committed(feed, sink).count() == 1000

    # append: second epoch, both visible
    src.limit(100).write.format("rtap_feed").option("path", sink).mode(
        "append"
    ).save()
    assert read_committed(feed, sink).count() == 1100

    # overwrite: old manifests retired, only the new snapshot visible
    src.limit(7).write.format("rtap_feed").option("path", sink).mode(
        "overwrite"
    ).save()
    got = read_committed(feed, sink)
    assert got.count() == 7
    # retired data files were reclaimed; no stragglers outside manifests
    import os as _os

    parts = [f for f in _os.listdir(sink) if f.endswith(".parquet")]
    manifest_files = set()
    commits = _os.path.join(sink, "_commits")
    for mf in _os.listdir(commits):
        if mf.endswith(".json"):
            manifest_files.update(json.load(open(_os.path.join(commits, mf)))["files"])
    assert set(parts) == manifest_files


def test_time_travel_reads_epoch_bounded_snapshot(feed, tmp_path):
    """as_of_epoch replays the table state after that micro-batch."""
    import pyarrow as pa

    sink = str(tmp_path / "tt")
    os.makedirs(sink)
    w = FeedStreamWriter({"path": sink})
    for epoch, vals in enumerate(([1, 2], [3], [4, 5, 6])):
        m = w.write(iter([pa.record_batch({"x": pa.array(vals)})]))
        w.commit([m], batchId=epoch)

    assert read_committed(feed, sink).count() == 6
    assert read_committed(feed, sink, as_of_epoch=0).count() == 2
    assert read_committed(feed, sink, as_of_epoch=1).count() == 3
    assert sorted(
        r.x for r in read_committed(feed, sink, as_of_epoch=1).collect()
    ) == [1, 2, 3]


def test_compaction_collapses_epochs_atomically(feed, tmp_path):
    """Many small epochs -> one snapshot, same rows, prior manifests
    retired; readers only ever see a complete snapshot."""
    import pyarrow as pa

    from realtime_analytics_pipeline_spark.sources.feed import (
        compact_feed_table,
    )

    sink = str(tmp_path / "t")
    os.makedirs(sink)
    w = FeedStreamWriter({"path": sink})
    for epoch in range(6):
        m = w.write(
            iter([pa.record_batch({"x": pa.array([epoch * 10, epoch * 10 + 1])})])
        )
        w.commit([m], batchId=epoch)
    before = sorted(r.x for r in read_committed(feed, sink).collect())
    commits = os.path.join(sink, "_commits")
    assert len(os.listdir(commits)) == 6

    n = compact_feed_table(feed, sink)
    assert n == 12
    after = sorted(r.x for r in read_committed(feed, sink).collect())
    assert after == before
    manifests = [f for f in os.listdir(commits) if f.endswith(".json")]
    assert len(manifests) == 1 and manifests[0].startswith("batch-")
    # retired part files are physically reclaimed
    parts = [f for f in os.listdir(sink) if f.endswith(".parquet")]
    listed = json.load(open(os.path.join(commits, manifests[0])))["files"]
    assert sorted(parts) == sorted(listed)


def test_stream_offsets_surface_in_progress(feed, tmp_path):
    """Operational story: the custom source's offsets are visible in
    StreamingQuery progress (startOffset/endOffset per partition key),
    so ops can monitor lag exactly as with Kafka."""
    src = str(tmp_path / "log")
    os.makedirs(src)
    shutil.copy(EVENTS_SMOKE, os.path.join(src, "a.parquet"))
    q = (
        feed.readStream.format("rtap_feed")
        .option("path", src)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: any(
                p.get("sources") and p["sources"][0].get("endOffset")
                for p in (q.recentProgress or [])
            )
        )
        prog = [p for p in q.recentProgress if p.get("sources")][-1]
        # Spark surfaces the Python offset dict via str() (single
        # quotes) — literal_eval, not json
        import ast

        end = ast.literal_eval(prog["sources"][0]["endOffset"])
    finally:
        q.stop()
    key = os.path.join(src, "a.parquet") + "#0"
    assert end.get(key) == 1000


# -- keyed produce (Kafka producer partitioning contract) ------------------


def _partition_logs(path):
    """Replay each committed part file in stored row order (the log)."""
    import os

    logs = {}
    for mf in sorted(os.listdir(os.path.join(path, "_commits"))):
        if not mf.endswith(".json"):
            continue
        with open(os.path.join(path, "_commits", mf)) as fh:
            for fname in json.load(fh)["files"]:
                t = pq.read_table(os.path.join(path, fname))
                logs[fname] = t.to_pylist()
    return logs


def _keyed_input(spark, n_rows=400, n_users=23):
    """Producer view: user-keyed messages with a send-sequence column."""
    rows = [
        (str(i % n_users), i, f"payload-{i}") for i in range(n_rows)
    ]
    return spark.createDataFrame(rows, "user_id string, seq long, body string")


def test_keyed_produce_per_key_order_and_sticky_partitioning(feed, tmp_path):
    """Kafka contract (producer.py:40 keys by user.id): every key lives
    wholly inside one topic partition, and replaying any partition's
    log yields that partition's rows in produce (seq) order — hence
    per-key total order. No cross-partition order is asserted, because
    Kafka offers none."""
    from realtime_analytics_pipeline_spark.sources.feed import (
        KEY_PARTITION_COL,
        produce_keyed,
    )

    path = str(tmp_path / "keyed_feed")
    df = _keyed_input(feed)
    produce_keyed(df, path, key_col="user_id", seq_col="seq", num_partitions=4)

    logs = _partition_logs(path)
    key_home: dict[str, set] = {}
    key_seqs: dict[str, list] = {}
    pid_of_key: dict[str, int] = {}
    for fname, rows in logs.items():
        # within one log segment: pids are contiguous and seq strictly
        # ascends per pid — the broker's storage order
        for r in rows:
            key_home.setdefault(r["user_id"], set()).add(fname)
            key_seqs.setdefault(r["user_id"], []).append(r["seq"])
            pid_of_key.setdefault(r["user_id"], r[KEY_PARTITION_COL])
            assert r[KEY_PARTITION_COL] == pid_of_key[r["user_id"]]
        per_pid_last: dict[int, int] = {}
        for r in rows:
            pid = r[KEY_PARTITION_COL]
            assert per_pid_last.get(pid, -1) < r["seq"]
            per_pid_last[pid] = r["seq"]
    # (a) sticky partitioning: a key never straddles files
    assert all(len(files) == 1 for files in key_home.values())
    # (b) per-key order: replaying the key's partition yields seq order
    for seqs in key_seqs.values():
        assert seqs == sorted(seqs)
    # (c) nothing lost or duplicated
    assert sum(len(r) for r in logs.values()) == 400
    # (d) keys actually spread across partitions (routing isn't degenerate)
    both = read_committed(feed, path).collect()
    assert len({r[KEY_PARTITION_COL] for r in both}) > 1


def test_keyed_rebalance_replay_preserves_per_key_order(feed, tmp_path):
    """Rebalance-like repartition replay: consume the committed keyed
    log and re-produce it into a topic with a DIFFERENT partition
    count (2 instead of 4 — the shrink a rebalance/migration does).
    Keys re-route, but every key's seq sequence must survive byte-for-
    byte: per-key order is the invariant Kafka preserves across any
    rebalance, and the only one."""
    from realtime_analytics_pipeline_spark.sources.feed import (
        KEY_PARTITION_COL,
        produce_keyed,
    )

    src = str(tmp_path / "keyed_src")
    dst = str(tmp_path / "keyed_dst")
    df = _keyed_input(feed)
    produce_keyed(df, src, key_col="user_id", seq_col="seq", num_partitions=4)

    replay = read_committed(feed, src).drop(KEY_PARTITION_COL)
    produce_keyed(
        replay, dst, key_col="user_id", seq_col="seq", num_partitions=2
    )

    logs = _partition_logs(dst)
    key_seqs: dict[str, list] = {}
    key_home: dict[str, set] = {}
    for fname, rows in logs.items():
        for r in rows:
            key_seqs.setdefault(r["user_id"], []).append(r["seq"])
            key_home.setdefault(r["user_id"], set()).add(fname)
    expected = {}
    for r in df.collect():
        expected.setdefault(r["user_id"], []).append(r["seq"])
    for k, seqs in expected.items():
        assert key_seqs[k] == sorted(seqs), k
        assert len(key_home[k]) == 1
    assert sum(len(r) for r in logs.values()) == 400


def test_key_partition_matches_spark_routing(feed):
    """Two implementations, one equality: the Python router used by the
    Arrow-table produce equals Spark's routing expression."""
    from realtime_analytics_pipeline_spark.sources.feed import key_partition

    keys = ["u1", "user-4242", "é", "ключ-中文-😀", "", "k" * 40, "x" * 37, None]
    df = feed.createDataFrame([(k,) for k in keys], "k string")
    for n in (1, 3, 8):
        spark_pids = {
            r.k: r.p
            for r in df.select(
                "k",
                F.pmod(F.xxhash64(F.col("k").cast("string")), F.lit(n))
                .cast("int")
                .alias("p"),
            ).collect()
        }
        assert {k: key_partition(k, n) for k in keys} == spark_pids, n


def test_flush_and_dataframe_produce_lay_out_the_same_log(feed, tmp_path):
    """A producer flush (Arrow table, no Spark job) and a DataFrame
    produce_keyed of the same rows store the same keyed log."""
    from realtime_analytics_pipeline_spark.ingestion_api import (
        BufferedEventProducer,
    )
    from realtime_analytics_pipeline_spark.sources.feed import (
        KEY_PARTITION_COL,
        produce_keyed,
    )

    users = [str(i) for i in range(20)] + ["é", "中文", "", "x" * 40]
    payloads = [{"user": {"id": users[i % len(users)]}, "n": i} for i in range(300)]
    flushed, framed = str(tmp_path / "flushed"), str(tmp_path / "framed")
    producer = BufferedEventProducer(flushed, num_partitions=3)
    for p in payloads:
        producer.send(p)
    assert producer.flush() == 300
    df = feed.createDataFrame(
        [(p["user"]["id"], i, json.dumps(p)) for i, p in enumerate(payloads)],
        "user_id string, seq long, value string",
    )
    produce_keyed(df, framed, key_col="user_id", seq_col="seq", num_partitions=3)

    def layout(path):
        pid_of, home, rows = {}, {}, set()
        for fname, log in _partition_logs(path).items():
            schema = pq.read_schema(os.path.join(path, fname))
            assert [(f.name, str(f.type)) for f in schema] == [
                ("user_id", "string"),
                ("seq", "int64"),
                ("value", "string"),
                (KEY_PARTITION_COL, "int32"),
            ]
            last_seq: dict[int, int] = {}
            for r in log:
                pid = r[KEY_PARTITION_COL]
                assert last_seq.get(pid, -1) < r["seq"]  # produce order
                last_seq[pid] = r["seq"]
                assert pid_of.setdefault(r["user_id"], pid) == pid
                home.setdefault(r["user_id"], set()).add(fname)
                rows.add((r["user_id"], r["seq"], r["value"]))
        assert all(len(files) == 1 for files in home.values())  # no split key
        return pid_of, rows

    assert layout(flushed) == layout(framed)


def test_table_produce_appends_only_and_cleans_up_a_failed_commit(
    tmp_path, monkeypatch
):
    """The Arrow-table produce refuses non-append modes, and a failed
    publish leaves no staged file behind (the Spark path's abort)."""
    import pyarrow as pa

    from realtime_analytics_pipeline_spark.sources import feed as feed_mod

    path = str(tmp_path / "t")
    table = pa.table({"user_id": ["a", "b"], "seq": [0, 1], "value": ["x", "y"]})
    with pytest.raises(ValueError, match="only appends"):
        feed_mod.produce_keyed(table, path, "user_id", "seq", 3, mode="overwrite")

    def failing_publish(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(feed_mod, "_publish", failing_publish)
    with pytest.raises(OSError, match="disk full"):
        feed_mod.produce_keyed(table, path, "user_id", "seq", 3)
    assert os.listdir(os.path.join(path, "_staging")) == []


# -- topic admin (S9: AdminClient.create_topics analog) --------------------


def test_topic_admin_create_idempotent_and_conflict(feed, tmp_path):
    """admin.py:8-31 parity: create is idempotent for the same config
    (TopicExistsError code 36 swallowed), refused for a conflicting
    partition count (keyed routing is pinned to n), and the producer
    honors the topic's declared partition count."""
    from realtime_analytics_pipeline_spark.sources.feed import (
        KEY_PARTITION_COL,
        TopicExistsError,
        create_topic,
        produce_keyed,
        read_committed,
        topic_partitions,
    )

    base = tmp_path / "topics"
    t1 = str(base / "event_metrics")
    meta = create_topic(t1, num_partitions=3)  # reference default: 3
    assert meta == {"name": "event_metrics", "num_partitions": 3}
    # idempotent re-create, same config
    assert create_topic(t1, num_partitions=3) == meta
    # conflicting partition count refused
    with pytest.raises(TopicExistsError):
        create_topic(t1, num_partitions=5)
    assert topic_partitions(t1) == 3

    # produce WITHOUT an explicit partition count: the topic's wins
    df = _keyed_input(feed, n_rows=60, n_users=10)
    produce_keyed(df, t1, key_col="user_id", seq_col="seq")
    back = read_committed(feed, t1)
    assert back.count() == 60
    pids = {r[KEY_PARTITION_COL] for r in back.collect()}
    assert pids <= {0, 1, 2} and len(pids) > 1
