"""Storage layout: partition pruning, compaction and Z-ordered files."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.schema import raw_ts_ms
from realtime_analytics_pipeline_spark.sources.batch import load_table

from tests.conftest import SF_SMOKE
from tests.test_plans import plan_of


def test_partition_pruning_on_day_partitioned_layout(spark, tmp_path):
    """A day-partitioned events layout must prune partitions for a
    day-equality filter — the scan should touch one partition's files,
    visible as a PartitionFilters entry in the plan."""
    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, SF_SMOKE, "events")
    day = F.from_unixtime((raw_ts_ms(ev) / 1000).cast("long"), "yyyy-MM-dd")
    (
        ev.withColumn("day", day)
        .write.partitionBy("day")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(F.col("day") == "2024-01-05")
    plan = plan_of(back)
    assert "PartitionFilters" in plan
    assert "isnotnull(day" in plan or "(day" in plan.split("PartitionFilters")[1].splitlines()[0]
    # and the filter is correct
    want = ev.where(day == "2024-01-05").count()
    assert back.count() == want


def test_compaction_reduces_file_count_preserves_rows(spark, tmp_path):
    """64 tiny files -> ceil(n/target) compacted files, same rows; the
    range-sorted variant leaves non-overlapping ts min/max per file
    (footer stats usable for pruning)."""
    from realtime_analytics_pipeline_spark.operators.storage import (
        compact_files,
    )

    src = str(tmp_path / "small_files")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(64).write.parquet(src)
    import os

    assert len([f for f in os.listdir(src) if f.startswith("part-")]) == 64

    out = str(tmp_path / "compacted")
    n = ev.count()
    files = compact_files(spark, src, out, target_rows_per_file=300,
                          sort_col="ts")
    assert files == -(-n // 300)  # ceil
    back = spark.read.parquet(out)
    assert back.count() == n
    # range-partitioned by ts: per-file min/max must not overlap
    import pyarrow.parquet as pq

    spans = []
    for f in sorted(os.listdir(out)):
        if not f.startswith("part-"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        col = md.row_group(0).column(idx["ts"])
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["ts"]).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "range-sorted files must not overlap"


def test_zorder_narrows_footer_ranges_on_both_dims(spark, tmp_path):
    """Z-ordered files must carry narrow min/max footer bands on BOTH
    clustered columns; a linear sort narrows only its leading column
    (the trailing one spans ~the full range in every file), which is
    exactly the file-skipping gap Z-ordering closes."""
    import pyarrow.parquet as pq
    import os

    from realtime_analytics_pipeline_spark.operators.storage import (
        write_zordered,
    )

    # two independent uniform dims -> worst case for linear sort
    df = spark.range(0, 20000).select(
        (F.col("id") * 2654435761 % 1000).alias("x"),
        (F.col("id") * 40503 % 1000).alias("y"),
    )
    lin_dir = str(tmp_path / "linear")
    z_dir = str(tmp_path / "zorder")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(lin_dir)
    write_zordered(spark, df, z_dir, ["x", "y"], n_files=16)

    def avg_span(d, col):
        spans = []
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            mn, mx = None, None
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for ci in range(rgm.num_columns):
                    c = rgm.column(ci)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        mn = s.min if mn is None else min(mn, s.min)
                        mx = s.max if mx is None else max(mx, s.max)
            if mn is not None:
                spans.append((mx - mn) / 999.0)
        assert spans
        return sum(spans) / len(spans)

    # linear: leading column tightly banded, trailing spans ~everything
    assert avg_span(lin_dir, "x") < 0.2
    assert avg_span(lin_dir, "y") > 0.8
    # z-order: BOTH columns banded well below the full range
    zx, zy = avg_span(z_dir, "x"), avg_span(z_dir, "y")
    assert zx < 0.6 and zy < 0.6, (zx, zy)
    # and the trailing dimension improves by a wide margin
    assert zy < 0.7 * avg_span(lin_dir, "y")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioning on the query key: a filtered read must
    show the predicate under PartitionFilters (pruned BEFORE listing
    file contents) and scan only the matching partition directory."""
    out = str(tmp_path / "events_by_type")
    from realtime_analytics_pipeline_spark.sources.batch import load_events

    load_events(spark, SF_SMOKE).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(out)

    df = spark.read.parquet(out).where(F.col("event_type") == "purchase")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    head = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "event_type" in head  # predicate reached partition pruning
    # and the data filter section no longer carries it (it's pruned,
    # not row-filtered)
    assert df.count() == load_events(spark, SF_SMOKE).where(
        "event_type = 'purchase'"
    ).count()
    import os

    dirs = [d for d in os.listdir(out) if d.startswith("event_type=")]
    assert len(dirs) >= 2  # several partitions exist; only one is read
