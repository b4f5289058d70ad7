"""SessionMemo: shared DataFrame intermediates are built once per
(application, epoch), and a new epoch frees the previous one's
checkpoint blocks. The per-query recorder runs each query in its own
epoch and leaves the default one behind. Scratch stores live until the
process exits, and no longer."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

# registry first: it imports registry_docs after the modules it needs
from realtime_analytics_pipeline_spark import registry  # noqa: F401
from realtime_analytics_pipeline_spark.registry_docs import (
    _bounded_pairs,
    _md5_corpus_sigs,
    memo_build_count,
    set_memo_epoch,
)
from realtime_analytics_pipeline_spark.operators.observability import run_query
from realtime_analytics_pipeline_spark.session import SESSION_MEMO
from tests.conftest import SF_SMOKE


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_epoch_change_frees_previous_entries(spark):
    try:
        set_memo_epoch("test:a")
        builds = memo_build_count()
        first = _md5_corpus_sigs(spark, SF_SMOKE)
        second = _md5_corpus_sigs(spark, SF_SMOKE)
        assert memo_build_count() == builds + 1
        assert sorted(first.collect()) == sorted(second.collect())
        rdd_id = first._jdf.queryExecution().analyzed().rdd().id()
        assert rdd_id in _persistent_ids(spark)

        set_memo_epoch("test:b")
        assert rdd_id not in _persistent_ids(spark)
        _md5_corpus_sigs(spark, SF_SMOKE)
        assert memo_build_count() == builds + 2
    finally:
        set_memo_epoch("")


def test_two_spellings_of_one_slice_build_once(spark):
    try:
        set_memo_epoch("test:spelling")
        builds = memo_build_count()
        _bounded_pairs(spark, SF_SMOKE)
        _bounded_pairs(spark, SF_SMOKE + "/")
        assert memo_build_count() == builds + 1
    finally:
        set_memo_epoch("")


def test_run_query_records_jobs_and_shuffle(spark):
    agg = run_query(spark, "event_metrics_1m", SF_SMOKE, "test:recorder:agg")
    assert agg.jobs >= 1
    assert agg.shuffle_write_bytes > 0 and agg.shuffle_read_bytes > 0
    map_only = run_query(spark, "text_pii_redaction", SF_SMOKE, "test:recorder:map")
    assert map_only.jobs >= 1
    assert map_only.shuffle_read_bytes == map_only.shuffle_write_bytes == 0
    assert SESSION_MEMO._epoch == ""
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_scratch_dir_root_removed_at_exit(tmp_path):
    """A process that writes into a scratch_dir directory and exits
    leaves neither the directory nor its root behind."""
    code = (
        "import os\n"
        "from realtime_analytics_pipeline_spark.session import scratch_dir\n"
        "d = scratch_dir('probe_')\n"
        "open(os.path.join(d, 'f'), 'w').write('x')\n"
        "print(os.path.dirname(d))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, check=True, timeout=120,
    )
    root = out.stdout.strip()
    assert root.startswith(str(tmp_path)), root
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
