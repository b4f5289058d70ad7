"""Property tests for the rtap_feed planner (no SparkSession needed).

The invariants that make the source exactly-once: partition planning
must tile the row space exactly (no gap, no overlap) for ANY file
layout and parallelism, and stream offset chunking must cover ANY
(start, end) gaps in disjoint, replayable ranges packed into the fewest
tasks of at most ``batch_rows`` rows.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from realtime_analytics_pipeline_spark.sources.feed import (
    FeedStreamReader,
    _plan_partitions,
)


@st.composite
def parquet_layout(draw):
    """A file with 1-4 row groups of 1-5000 rows each."""
    sizes = draw(st.lists(st.integers(1, 5000), min_size=1, max_size=4))
    return sizes


@given(layout=parquet_layout(), parallelism=st.integers(1, 64))
@settings(max_examples=30, deadline=None)
def test_plan_partitions_tile_exactly(tmp_path_factory, layout, parallelism):
    d = tmp_path_factory.mktemp("feedprop")
    f = str(d / "t.parquet")
    schema = pa.schema([("x", pa.int64())])
    writer = pq.ParquetWriter(f, schema)
    start = 0
    for n in layout:
        writer.write_table(
            pa.table({"x": pa.array(range(start, start + n))})
        )
        start += n
    writer.close()

    parts = _plan_partitions(f, parallelism, [])
    # per row group: ranges sort into a gapless exact tiling
    by_rg: dict[int, list] = {}
    for p in parts:
        assert 0 <= p.start < p.end
        by_rg.setdefault(p.row_group, []).append(p)
    assert set(by_rg) == set(range(len(layout)))
    for rg, rows in zip(range(len(layout)), layout):
        ranges = sorted(by_rg[rg], key=lambda p: p.start)
        assert ranges[0].start == 0
        assert ranges[-1].end == rows
        for a, b in zip(ranges, ranges[1:]):
            assert a.end == b.start  # no gap, no overlap


@given(
    ends=st.dictionaries(
        st.sampled_from(["/p/a.parquet#0", "/p/a.parquet#1", "/p/b.parquet#0"]),
        st.integers(0, 100000),
        min_size=1,
    ),
    starts_frac=st.lists(st.floats(0, 1), min_size=3, max_size=3),
    batch_rows=st.integers(1, 10000),
)
@settings(max_examples=100, deadline=None)
def test_stream_chunking_tiles_offset_gaps(ends, starts_frac, batch_rows):
    reader = FeedStreamReader.__new__(FeedStreamReader)
    reader._path = "/p"
    reader._batch_rows = batch_rows
    start = {
        k: int(v * f)
        for (k, v), f in zip(sorted(ends.items()), starts_frac)
    }
    tasks = reader.partitions(start, ends)
    gap_rows = sum(max(0, hi - start.get(k, 0)) for k, hi in ends.items())
    # packed: every task but the last is full, so the count is minimal
    assert len(tasks) == -(-gap_rows // batch_rows)
    by_key: dict[tuple, list] = {}
    for t in tasks:
        assert 0 < sum(p.end - p.start for p in t.value) <= batch_rows
        for p in t.value:
            assert p.start < p.end
            by_key.setdefault((p.path, p.row_group), []).append(p)
    for k, hi in ends.items():
        path, rg = k.rsplit("#", 1)
        lo = start.get(k, 0)
        ranges = sorted(by_key.get((path, int(rg)), []), key=lambda p: p.start)
        if lo >= hi:
            assert ranges == []
            continue
        assert ranges[0].start == lo and ranges[-1].end == hi
        for a, b in zip(ranges, ranges[1:]):
            assert a.end == b.start
