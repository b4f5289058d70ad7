from __future__ import annotations

import os

import pytest

from realtime_analytics_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("rtap-spark-tests")
    yield s


def write_time_ordered_stream_fixture(df, path: str, n_files: int, ts_col: str = "ts"):
    """Write a multi-file stream-source fixture whose micro-batch
    ORDER is deterministic and time-ordered.

    The file stream source orders batches by file modification time —
    for a parallel write that is a task-completion race, so a later
    time range can replay BEFORE an earlier one and then the earlier
    file arrives entirely behind the advanced watermark (dropped late,
    by design). Range-partition by time, then stagger mtimes in range
    order so replay order == event-time order."""
    import glob
    import os
    import time

    df.repartitionByRange(n_files, ts_col).write.parquet(path)
    now = time.time()
    for i, f in enumerate(sorted(glob.glob(path + "/part-*"))):
        os.utime(f, (now + 2 * i, now + 2 * i))
