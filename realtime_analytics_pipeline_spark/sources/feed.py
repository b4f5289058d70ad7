"""First-class Spark data source for the event feed (Python Data Source API).

The reference's transport is a partitioned ordered log — Kafka — consumed
by offset ranges with exactly-once restart and produced to with
transactional epoch commits (services/processing/src/connectors/
kafka_source.py:6-19, kafka_sink.py:10-46). No broker exists in this
container, so this module implements the same CONTRACT as a native Spark
source/sink via the Spark 4 Python Data Source API
(``pyspark.sql.datasource``), backed by the driver's parquet event log:

- **Batch scan** (``spark.read.format("rtap_feed")``): partition planning
  over parquet row groups (the unit of parallel IO), **filter pushdown**
  through ``DataSourceReader.pushFilters`` (Spark 4.1) with
  **row-group pruning from footer min/max statistics** — the same
  scan-reduction levers Spark's built-in parquet source applies, here
  demonstrated through a user-defined source. Degenerate files with one
  giant row group are range-split so parallelism never collapses to 1
  (decode-skip tradeoff documented on ``_plan_partitions``).
- **Streaming scan** (``spark.readStream.format("rtap_feed")``): a
  ``DataSourceStreamReader`` whose offsets are per-partition consumed-row
  counts — exactly Kafka's model. ``latestOffset`` reports the end of
  the log, opening only footers it has not seen (published files are
  immutable); each micro-batch's offset gaps are packed into
  ``ceil(rows / batch_rows)`` read tasks, and ``read(partition)``
  deterministically re-reads its ranges, so checkpoint restart is
  exactly-once by construction.
- **Streaming sink** (``writeStream.format("rtap_feed")``): a
  ``DataSourceStreamArrowWriter`` with the two-phase epoch commit the
  reference's Kafka sink gets from the broker: executors stage part
  files and return commit messages; the driver publishes a per-epoch
  manifest atomically (tmp + rename). A replayed epoch (failure before
  the checkpoint recorded the commit) sees its manifest already
  published and discards the duplicate stage — idempotent exactly-once.
  ``read_committed`` reads only manifest-listed files, so concurrent
  readers never observe uncommitted stragglers.
- **Keyed produce** (``produce_keyed``): Kafka's key-sticky partition
  routing. A DataFrame is routed, shuffled and written by a Spark job;
  an Arrow table (the ingestion producer's flush) is routed on the
  calling process with the same hash and published as one staged file
  through the same commit — a client-side log append, no Spark job.

At 100 TB the planning metadata is per-row-group footers only (no data
read on the driver); scan work fans out one task per surviving row
group. The Python worker decodes Arrow batches — acceptable for a
connector boundary (same position as any foreign-format bridge); the
relational work downstream stays JVM-side.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

FEED_FORMAT = "rtap_feed"


# --------------------------------------------------------------------------
# planning helpers (driver side; footer metadata only)
# --------------------------------------------------------------------------


def _feed_files(path: str) -> List[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    )


@dataclass
class _RowRange(InputPartition):
    """One scan task: rows [start, end) of one row group of one file."""

    path: str
    row_group: int
    start: int
    end: int


_COMPARE_OPS = (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)


def _filter_to_arrow(f: Filter):
    """Supported pushed filter -> pyarrow compute expression (or None)."""
    col = f.attribute
    if len(col) != 1:  # nested columns stay in Spark
        return None
    field = pc.field(col[0])
    if isinstance(f, EqualTo):
        return field == f.value
    if isinstance(f, In):
        return field.isin(list(f.value))
    if isinstance(f, GreaterThan):
        return field > f.value
    if isinstance(f, GreaterThanOrEqual):
        return field >= f.value
    if isinstance(f, LessThan):
        return field < f.value
    if isinstance(f, LessThanOrEqual):
        return field <= f.value
    if isinstance(f, IsNotNull):
        return field.is_valid()
    if isinstance(f, IsNull):
        return field.is_null()
    if isinstance(f, StringStartsWith):
        return pc.starts_with(field, pattern=f.value)
    return None


def _group_maybe_matches(meta_rg, names: List[str], f: Filter) -> bool:
    """Row-group pruning from footer min/max stats.

    Conservative: returns False only when the statistics PROVE no row in
    the group can satisfy the filter. Mirrors parquet-mr's
    StatisticsFilter semantics (drop only on certainty).
    """
    col = f.attribute
    if len(col) != 1 or col[0] not in names:
        return True
    stats = meta_rg.column(names.index(col[0])).statistics
    if stats is None or not stats.has_min_max:
        return True
    lo, hi = stats.min, stats.max
    try:
        if isinstance(f, EqualTo):
            return lo <= f.value <= hi
        if isinstance(f, In):
            return any(lo <= v <= hi for v in f.value)
        if isinstance(f, GreaterThan):
            return hi > f.value
        if isinstance(f, GreaterThanOrEqual):
            return hi >= f.value
        if isinstance(f, LessThan):
            return lo < f.value
        if isinstance(f, LessThanOrEqual):
            return lo <= f.value
    except TypeError:  # incomparable types (e.g. stats in raw bytes)
        return True
    return True


def _plan_partitions(
    path: str, parallelism: int, pushed: List[Filter]
) -> List[_RowRange]:
    """One partition per surviving row group; range-split when too few.

    The row group is parquet's unit of independently decodable IO, so it
    is the natural task unit (what Spark's own FilePartition planning
    uses). The driver's single-file single-row-group testdata would
    collapse to one task, so oversized groups are split into contiguous
    row ranges: each range task decodes from the group start and slices
    — duplicate decode bounded by group size, the same tradeoff Spark
    makes for unsplittable compressed files, and strictly better than a
    single task at 32 cores.
    """
    ranges: List[_RowRange] = []
    total_rows = 0
    for f in _feed_files(path):
        meta = pq.ParquetFile(f).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        for rg in range(meta.num_row_groups):
            rg_meta = meta.row_group(rg)
            if not all(
                _group_maybe_matches(rg_meta, names, flt) for flt in pushed
            ):
                continue  # pruned: statistics prove zero matching rows
            ranges.append(_RowRange(f, rg, 0, rg_meta.num_rows))
            total_rows += rg_meta.num_rows
    want = max(1, parallelism)
    while len(ranges) < want:
        # split the largest range in half until we reach the target (or
        # ranges become too small to matter)
        big = max(ranges, key=lambda r: r.end - r.start, default=None)
        if big is None or (big.end - big.start) < 2048:
            break
        mid = (big.start + big.end) // 2
        ranges.remove(big)
        ranges.append(_RowRange(big.path, big.row_group, big.start, mid))
        ranges.append(_RowRange(big.path, big.row_group, mid, big.end))
    return sorted(ranges, key=lambda r: (r.path, r.row_group, r.start))


def _read_range(part: _RowRange, arrow_filter) -> Iterator[pa.RecordBatch]:
    """Decode one row range, apply the pushed filter, yield batches."""
    pf = pq.ParquetFile(part.path)
    pos = 0
    for batch in pf.iter_batches(batch_size=32768, row_groups=[part.row_group]):
        lo, hi = part.start - pos, part.end - pos
        pos += batch.num_rows
        if hi <= 0:
            break  # past the range: stop decoding
        if lo >= batch.num_rows:
            continue  # before the range: skip (decode cost only)
        sliced = batch.slice(max(lo, 0), min(hi, batch.num_rows) - max(lo, 0))
        if arrow_filter is not None:
            sliced = (
                pa.Table.from_batches([sliced]).filter(arrow_filter).combine_chunks()
            )
            for b in sliced.to_batches():
                if b.num_rows:
                    yield b
        elif sliced.num_rows:
            yield sliced


# --------------------------------------------------------------------------
# batch reader
# --------------------------------------------------------------------------


class FeedBatchReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self._path = options["path"]
        self._parallelism = int(options.get("parallelism", "8"))
        self._pushed: List[Filter] = []

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for f in filters:
            if _filter_to_arrow(f) is not None:
                self._pushed.append(f)
            else:
                yield f  # unsupported: Spark keeps evaluating it

    def pushedFilters(self) -> List[Filter]:  # introspection for tests
        return list(self._pushed)

    def partitions(self) -> List[InputPartition]:
        return _plan_partitions(self._path, self._parallelism, self._pushed)

    def read(self, partition: _RowRange) -> Iterator[pa.RecordBatch]:
        expr = None
        for f in self._pushed:
            e = _filter_to_arrow(f)
            expr = e if expr is None else expr & e
        yield from _read_range(partition, expr)


# --------------------------------------------------------------------------
# stream reader (Kafka-model offsets)
# --------------------------------------------------------------------------


class FeedStreamReader(DataSourceStreamReader):
    """Offset model: ``{"<file>#<row_group>": consumed_row_count}``.

    Each (file, row group) pair is one feed partition — exactly a Kafka
    topic-partition with offsets ``0..num_rows``. The log GROWS: every
    ``latestOffset`` call re-scans the directory (footer stats only), so
    files appended while the query runs become new partitions on the
    next trigger, like a producer appending to a topic. Keys are stable
    physical identities, never list indices, so offsets survive restart
    and log growth.

    ``latestOffset`` reports the physical end of the log; Spark plans
    the micro-batch as (checkpointed start → that end), which is Kafka's
    semantics without ``maxOffsetsPerTrigger``. Published files are
    immutable and uniquely named, so their row-group counts are cached
    by name and each trigger opens only the footers of new files.

    ``partitions()`` packs the micro-batch's offset gaps, in offset
    order, into ``ceil(gap rows / batch_rows)`` tasks of at most
    ``batch_rows`` rows each: a live feed gains one small file per
    producer flush, and one task per file would make task launch, not
    data, the cost of a micro-batch. A given (start, end) range always
    maps to the same physical rows, so replay after checkpoint recovery
    re-emits identical data — exactly-once with an idempotent sink. (A
    micro-batch-level rate limit would need offset arithmetic against
    durable state the Python API doesn't expose; any in-memory cursor
    would regress offsets after restart and is deliberately avoided.)
    """

    def __init__(self, options: dict) -> None:
        self._path = options["path"]
        self._batch_rows = int(options.get("batch_rows", "50000"))
        self._row_groups: dict[str, List[int]] = {}  # file -> rows per group

    def _scan(self) -> List[Tuple[str, int]]:
        seen, self._row_groups = self._row_groups, {}  # retired files drop out
        for f in _feed_files(self._path):
            if f not in seen:
                meta = pq.ParquetFile(f).metadata
                seen[f] = [
                    meta.row_group(i).num_rows for i in range(meta.num_row_groups)
                ]
            self._row_groups[f] = seen[f]
        return [
            (f"{f}#{rg}", n)
            for f, rows in self._row_groups.items()
            for rg, n in enumerate(rows)
        ]

    def initialOffset(self) -> dict:
        return {key: 0 for key, _n in self._scan()}

    def latestOffset(self) -> dict:
        return dict(self._scan())

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        tasks: List[InputPartition] = []
        ranges: List[_RowRange] = []
        room = self._batch_rows
        for key, hi in end.items():
            path, rg = key.rsplit("#", 1)
            pos = int(start.get(key, 0))
            while pos < int(hi):
                take = min(int(hi) - pos, room)
                ranges.append(_RowRange(path, int(rg), pos, pos + take))
                pos += take
                room -= take
                if room == 0:
                    tasks.append(InputPartition(ranges))
                    ranges, room = [], self._batch_rows
        if ranges:
            tasks.append(InputPartition(ranges))
        return tasks

    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        for part in partition.value:  # the task's _RowRanges, in order
            yield from _read_range(part, None)

    def commit(self, end: dict) -> None:  # offsets live in the checkpoint
        pass


# --------------------------------------------------------------------------
# streaming sink (two-phase epoch commit)
# --------------------------------------------------------------------------


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    rows: int


def _stage(path: str, batches: Iterable[pa.RecordBatch]) -> _StagedFile:
    """Phase one of a commit: write the batches as one uniquely named
    part file under ``<path>/_staging`` (nothing staged when empty)."""
    batches = list(batches)
    if not batches:
        return _StagedFile(staged="", rows=0)
    staging = os.path.join(path, "_staging")
    os.makedirs(staging, exist_ok=True)
    name = os.path.join(staging, f"{uuid.uuid4().hex}.parquet")
    table = pa.Table.from_batches(batches)
    pq.write_table(table, name)
    return _StagedFile(staged=name, rows=table.num_rows)


def _publish(path: str, epoch, messages: List[_StagedFile]) -> None:
    """Phase two, on the driver: give the staged parts their final names,
    then publish the epoch's manifest by atomic rename (tmp + rename) —
    the commit point. ``epoch`` is a stream batch id or a batch name."""
    commits = os.path.join(path, "_commits")
    os.makedirs(commits, exist_ok=True)
    staged = [m for m in messages if m is not None and m.staged]
    tag = f"{epoch:05d}" if isinstance(epoch, int) else epoch
    finals = [f"part-{tag}-{i:04d}.parquet" for i in range(len(staged))]
    for m, final in zip(staged, finals):
        os.replace(m.staged, os.path.join(path, final))
    fd, tmp = tempfile.mkstemp(dir=commits, suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        rows = sum(m.rows for m in staged)
        json.dump({"epoch": epoch, "files": finals, "rows": rows}, fh)
    os.replace(tmp, os.path.join(commits, f"{epoch}.json"))


def _discard(messages: List[_StagedFile]) -> None:
    for m in messages:
        if m is not None and m.staged and os.path.exists(m.staged):
            os.remove(m.staged)


class FeedStreamWriter(DataSourceStreamArrowWriter):
    """Executor: stage a parquet part. Driver: publish epoch manifest.

    Parity: kafka_sink.py:10-46 relies on Kafka transactions for
    exactly-once epochs; here the atomic unit is the manifest rename.
    Re-delivered epochs (failure after publish, before checkpoint
    commit) find the manifest already present and drop their stage —
    the replay produces identical data, so dropping is lossless.
    """

    def __init__(self, options: dict) -> None:
        self._path = options["path"]
        self._schema: pa.Schema | None = None

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _StagedFile:
        return _stage(self._path, iterator)

    def commit(self, messages: List[_StagedFile], batchId: int) -> None:
        if os.path.exists(os.path.join(self._path, "_commits", f"{batchId}.json")):
            _discard(messages)  # replayed epoch: already published
        else:
            _publish(self._path, batchId, messages)

    def abort(self, messages: List[_StagedFile], batchId: int) -> None:
        _discard(messages)


class FeedBatchWriter(DataSourceArrowWriter):
    """Batch twin of the stream writer: same stage-then-publish protocol.

    Executors stage part files; the driver's ``commit`` publishes ONE
    manifest for the whole job (epoch name ``batch-<uuid>``), after
    first retiring every previous manifest when the save mode is
    overwrite. Readers going through ``read_committed`` therefore see
    the old state or the new state, never a mix — the snapshot
    semantics a lakehouse table format provides, reduced to its
    two-phase core.
    """

    def __init__(self, options: dict, overwrite: bool) -> None:
        self._path = options["path"]
        self._overwrite = overwrite

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _StagedFile:
        return _stage(self._path, iterator)

    def commit(self, messages: List[_StagedFile]) -> None:
        commits = os.path.join(self._path, "_commits")
        os.makedirs(commits, exist_ok=True)
        retired: List[str] = []
        if self._overwrite:
            for mf in sorted(os.listdir(commits)):
                if mf.endswith(".json"):
                    with open(os.path.join(commits, mf)) as fh:
                        retired.extend(json.load(fh)["files"])
                    os.remove(os.path.join(commits, mf))
        _publish(self._path, f"batch-{uuid.uuid4().hex}", messages)
        for f in retired:  # old data invisible already; reclaim space
            p = os.path.join(self._path, f)
            if os.path.exists(p):
                os.remove(p)

    def abort(self, messages: List[_StagedFile]) -> None:
        _discard(messages)


def read_committed(spark, path: str, as_of_epoch: int | None = None):
    """Read only epoch-committed files (uncommitted stragglers invisible).

    ``as_of_epoch`` time-travels a STREAMING table: only manifests with
    a numeric epoch ≤ the bound are read — the snapshot the table held
    after that micro-batch committed. Batch-writer manifests
    (``batch-<uuid>``) have no order and are always included; mixing
    the two styles in one table isn't supported for time travel.
    """
    commits = os.path.join(path, "_commits")
    files: List[str] = []
    if os.path.isdir(commits):
        for mf in sorted(os.listdir(commits)):
            if not mf.endswith(".json"):
                continue
            with open(os.path.join(commits, mf)) as fh:
                manifest = json.load(fh)
            epoch = manifest.get("epoch")
            if (
                as_of_epoch is not None
                and isinstance(epoch, int)
                and epoch > as_of_epoch
            ):
                continue
            files.extend(os.path.join(path, f) for f in manifest["files"])
    if not files:
        raise FileNotFoundError(f"no committed epochs under {path}")
    return spark.read.parquet(*files)


# --------------------------------------------------------------------------
# the DataSource
# --------------------------------------------------------------------------


class EventFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FEED_FORMAT

    def schema(self) -> StructType:
        files = _feed_files(self.options["path"])
        return from_arrow_schema(pq.ParquetFile(files[0]).schema_arrow)

    def reader(self, schema: StructType) -> FeedBatchReader:
        return FeedBatchReader(self.options)

    def streamReader(self, schema: StructType) -> FeedStreamReader:
        return FeedStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> FeedBatchWriter:
        return FeedBatchWriter(self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> FeedStreamWriter:
        return FeedStreamWriter(self.options)


def register_feed_source(spark) -> None:
    """Idempotent per-session registration of the ``rtap_feed`` format."""
    # Python-source filter pushdown is gated off by default (4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EventFeedDataSource)


def compact_feed_table(spark, path: str) -> int:
    """Compact a feed table's accumulated epochs into one snapshot.

    Streaming sinks accrete one manifest + N part files per epoch; at
    100 TB that is the classic small-file problem. Compaction here is
    just a batch overwrite THROUGH the same two-phase writer: read the
    committed snapshot, write it back with mode("overwrite") — the new
    manifest publishes atomically and every prior epoch (manifests and
    data files) is retired in the same commit, so concurrent
    ``read_committed`` readers see the old snapshot or the new one,
    never a mix and never a partial table. Returns the row count of
    the compacted snapshot.
    """
    snapshot = read_committed(spark, path)
    n = snapshot.count()
    (
        snapshot.write.format(FEED_FORMAT)
        .option("path", path)
        .mode("overwrite")
        .save()
    )
    return n


KEY_PARTITION_COL = "_feed_pid"

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)
_XXH_SEED = 42  # Spark's xxhash64 seed: routing parity depends on it


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxhash64(data: bytes | None) -> int:
    """XXH64 of ``data`` as Spark's ``xxhash64`` returns it (signed 64-bit,
    little-endian lanes, seed ``_XXH_SEED``); Spark skips a null, leaving
    the seed. Pure Python: routing a flush of a few hundred keys takes
    milliseconds, far below one Spark job."""
    seed = _XXH_SEED
    if data is None:
        return seed
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v[j] = _xxh_round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def key_partition(key: str | None, num_partitions: int) -> int:
    """The topic partition of ``key``: Spark's
    ``pmod(xxhash64(cast(key as string)), n)``, computed in Python."""
    return _xxhash64(None if key is None else key.encode()) % num_partitions


def produce_keyed(
    df,
    path: str,
    key_col: str,
    seq_col: str,
    num_partitions: int | None = None,
    mode: str = "append",
) -> None:
    """Keyed produce: the Kafka producer's partitioning contract.

    The reference's producer keys every message by ``user.id``
    (services/ingestion/src/infrastructure/kafka/producer.py:40), so
    Kafka guarantees (a) all of a key's messages land in ONE topic
    partition — ``hash(key) % num_partitions`` — and (b) messages
    within a partition are stored in produce order; consumers replaying
    any partition therefore observe per-key total order, and no order
    exists ACROSS partitions. This helper reproduces exactly that log
    layout through the feed sink:

    - every row gets a sticky partition id ``_feed_pid =
      pmod(xxhash64(key), n)`` (key-deterministic: re-produces and
      replays route identically, Kafka's murmur2-mod-n analog);
    - rows are shuffled so a topic partition never straddles Spark
      tasks, then sorted ``(_feed_pid, seq)`` within each task — the
      staged part file IS the partition's log segment, rows in produce
      order (``seq`` is the producer's send sequence);
    - the two-phase manifest commit is unchanged, so keyed epochs keep
      the exactly-once replay discipline.

    The ``_feed_pid`` column is retained in the stored rows — the
    analog of a Kafka record's partition metadata — so consumers and
    tests can replay one partition's log in isolation.

    ``df`` is a Spark DataFrame or a ``pyarrow.Table`` with a string
    key column. A table is what a producer client holds in memory: it
    is routed here with ``key_partition`` (bit-identical to the Spark
    expression), sorted ``(_feed_pid, seq)`` and appended as ONE
    staged file through ``FeedBatchWriter``'s commit — no Spark job,
    like a Kafka client's append (any other ``mode`` is refused). A
    DataFrame may be distributed, so it takes the Spark path: one hash
    shuffle of the produced micro-batch (Kafka pays the same routing
    network hop); the within-task sort is the only added cost and it
    spills, not OOMs, if an epoch is huge.
    """
    from pyspark.sql import functions as F

    if num_partitions is None:
        # honor the topic's declared partition count (create_topic);
        # default 8 for ad-hoc un-administered tables
        num_partitions = topic_partitions(path) or 8
    if isinstance(df, pa.Table):
        if mode != "append":
            raise ValueError(f"a pyarrow.Table produce only appends, not {mode!r}")
        pids = [key_partition(k, num_partitions) for k in df[key_col].to_pylist()]
        table = df.append_column(
            pa.field(KEY_PARTITION_COL, pa.int32()), pa.array(pids, pa.int32())
        ).sort_by([(KEY_PARTITION_COL, "ascending"), (seq_col, "ascending")])
        writer = FeedBatchWriter({"path": path}, overwrite=False)
        msg = writer.write(table.to_batches())
        try:
            writer.commit([msg])
        except BaseException:
            writer.abort([msg])  # as Spark does for a failed job
            raise
        return
    register_feed_source(df.sparkSession)  # idempotent
    routed = (
        df.withColumn(
            KEY_PARTITION_COL,
            F.pmod(
                F.xxhash64(F.col(key_col).cast("string")),
                F.lit(num_partitions),
            ).cast("int"),
        )
        .repartition(num_partitions, F.col(KEY_PARTITION_COL))
        .sortWithinPartitions(KEY_PARTITION_COL, seq_col)
    )
    (
        routed.write.format(FEED_FORMAT)
        .option("path", path)
        .mode(mode)
        .save()
    )


# --------------------------------------------------------------------------
# Topic admin (S9): the AdminClient.create_topics analog over feed
# tables (services/ingestion/src/infrastructure/kafka/admin.py:8-31)
# --------------------------------------------------------------------------

TOPIC_META = "_topic.json"


class TopicExistsError(Exception):
    """Partition-count conflict on an existing topic (Kafka cannot
    repartition in place; error code 36 is the only create_topics
    failure the reference tolerates — a SAME-config recreate is a
    no-op, a DIFFERENT one is refused)."""


def create_topic(path: str, num_partitions: int = 3) -> dict:
    """Create (idempotently) a feed topic: the directory plus a
    `_topic.json` declaring the partition count that `produce_keyed`
    honors. Re-creating with the same partition count is a no-op
    (admin.py:26-31 swallows TopicExistsError); a different count
    raises, because a keyed topic's hash routing is pinned to n."""
    os.makedirs(path, exist_ok=True)
    meta_path = os.path.join(path, TOPIC_META)
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta["num_partitions"] != num_partitions:
            raise TopicExistsError(
                f"topic {path} exists with num_partitions="
                f"{meta['num_partitions']} != {num_partitions}"
            )
        return meta
    meta = {"name": os.path.basename(path), "num_partitions": num_partitions}
    fd, tmp = tempfile.mkstemp(dir=path, suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return meta


def topic_partitions(path: str) -> int | None:
    meta_path = os.path.join(path, TOPIC_META)
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as fh:
        return json.load(fh)["num_partitions"]
